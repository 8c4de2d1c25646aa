"""Scale-pattern tests: salted aggregation/join correctness and
bucketed co-located joins eliminating the shuffle."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.operators import skew


def test_two_phase_agg_matches_plain(spark):
    # one hot key (90% of rows) + long tail
    rows = [("hot", float(i % 7)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    salted = skew.two_phase_agg(
        df, ["k"], {"total": ("v", "sum"), "n": ("v", "count")}, n_salts=8
    )
    plain = df.groupBy("k").agg(F.sum("v").alias("total"), F.count("v").alias("n"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)], "k string, v int"
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, label string")
    salted = skew.salted_join(big, small, "k", n_salts=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 505
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketed tables co-locate join keys: the sort-merge join reads
    both sides without an Exchange — the 100 TB pattern for repeated
    joins on the same key."""
    # warehouse.dir is a static conf — use a database with an explicit
    # LOCATION so bucketed tables land in the test tmpdir
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path / 'wh'}'")
    left = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 1000).withColumn("w", F.col("id") * 3)
    left.write.bucketBy(4, "id").sortBy("id").mode("overwrite").saveAsTable("bktest.bk_left")
    right.write.bucketBy(4, "id").sortBy("id").mode("overwrite").saveAsTable("bktest.bk_right")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bktest.bk_left").join(spark.table("bktest.bk_right"), "id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bktest.bk_left")
        spark.sql("DROP TABLE IF EXISTS bktest.bk_right")
        spark.sql("DROP DATABASE IF EXISTS bktest")


def test_triangle_self_join_exact_and_distributed(spark):
    # one dominant block: the naive block join would put all pairs on a
    # single key; the triangle must (1) return exactly the brute-force
    # pair set, each pair once, and (2) spread work across many cells
    from peskas_mozambique_data_pipeline_spark.operators.skew import triangle_self_join

    n, parts = 60, 4
    df = spark.createDataFrame([("hot", i) for i in range(n)], ["label", "id"])
    pairs = triangle_self_join(df, ["label"], "id", n_parts=parts)
    got = [(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs.collect()]
    expect = {(i, j) for i in range(n) for j in range(i + 1, n)}
    assert set(got) == expect
    assert len(got) == len(expect)  # no duplicate pairs

    # per-cell bound: no cell holds more than ~(2n/parts)^2 candidates
    from pyspark.sql import functions as F

    base = df.withColumn("_part", F.pmod(F.xxhash64("id"), F.lit(parts)).cast("int"))
    sizes = {r._part: r["count"] for r in base.groupBy("_part").count().collect()}
    max_part = max(sizes.values())
    worst_cell = max_part * max_part
    assert worst_cell < (n * (n - 1)) // 2  # strictly better than one hot key


def test_overlap_builds_legs_inherit_job_group(spark):
    # leg jobs run on pool threads: they must carry the caller's job
    # group and description, or a per-query job attribution misses them
    from peskas_mozambique_data_pipeline_spark.session import overlap_builds

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "overlap-builds-legs"
    ungrouped = set(tracker.getJobIdsForGroup(None))

    def leg(n):
        def build():
            seen = (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
            )
            return seen, spark.range(n).count()
        return build

    sc.setJobGroup(group, "overlap legs")
    try:
        got = overlap_builds(leg(10), leg(20))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    seen = (group, "overlap legs")
    assert got == [(seen, 10), (seen, 20)]
    assert len(tracker.getJobIdsForGroup(group)) >= 2
    # no leg job escaped the group (old jobs may age out of the store)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
