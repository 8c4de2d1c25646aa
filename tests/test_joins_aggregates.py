from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.operators import joins
from peskas_mozambique_data_pipeline_spark.operators.aggregates import (
    MAD_TO_SD,
    distinct_last_wins,
    group_string_agg,
    robust_bounds,
    sum_not_null,
)


def test_nary_full_join_keeps_all_keys(spark):
    a = spark.createDataFrame([(1, "a")], ["k", "va"])
    b = spark.createDataFrame([(2, "b")], ["k", "vb"])
    c = spark.createDataFrame([(1, "c"), (3, "c3")], ["k", "vc"])
    out = joins.nary_full_join([a, b, c], "k")
    got = {r.k: (r.va, r.vb, r.vc) for r in out.collect()}
    assert got == {1: ("a", None, "c"), 2: (None, "b", None), 3: (None, None, "c3")}


def test_natural_left_join_infers_shared_cols(spark):
    left = spark.createDataFrame([(1, "x", 10)], ["id", "grp", "v"])
    right = spark.createDataFrame([(1, "x", 99)], ["id", "grp", "w"])
    out = joins.natural_left_join(left, right)
    r = out.first()
    assert r.v == 10 and r.w == 99


def test_conditional_merge_gates_on_unique_days(spark):
    # device-day with 1 trip + 1 landing joins; 2-trip day passes through
    trips = spark.createDataFrame(
        [("2024-01-01", "i1", "t1"), ("2024-01-02", "i1", "t2"), ("2024-01-02", "i1", "t3")],
        ["d", "imei", "trip"],
    )
    landings = spark.createDataFrame(
        [("2024-01-01", "i1", "s1"), ("2024-01-02", "i1", "s2")],
        ["d", "imei", "sub"],
    )
    out = joins.conditional_one_to_one_merge(trips, landings, ["d", "imei"])
    got = [(r.d, r.trip, r.sub) for r in out.collect()]
    # day1: joined; day2: t2,t3 unjoined + s2 joined-alone (right side unique)
    assert ("2024-01-01", "t1", "s1") in got
    assert ("2024-01-02", "t2", None) in got and ("2024-01-02", "t3", None) in got
    assert ("2024-01-02", None, "s2") in got
    assert len(got) == 4


def test_upsert_split(spark):
    incoming = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    existing = spark.createDataFrame([(1,)], ["k"])
    upd, ins = joins.upsert_split(incoming, existing, "k")
    assert [r.k for r in upd.collect()] == [1]
    assert [r.k for r in ins.collect()] == [2]


def test_robust_bounds_matches_numpy_reference(spark):
    rng = np.random.default_rng(7)
    vals = np.exp(rng.normal(3.0, 0.5, size=500)).tolist()
    df = spark.createDataFrame([("g", float(v)) for v in vals], ["grp", "x"])
    out = robust_bounds(df, ["grp"], "x", k=2.5, log_transform=True).first()
    lx = np.log(vals)
    med = np.median(lx)
    mad = np.median(np.abs(lx - med))
    lo, hi = np.exp(med - 2.5 * MAD_TO_SD * mad), np.exp(med + 2.5 * MAD_TO_SD * mad)
    assert math.isclose(out.lower_bound, lo, rel_tol=1e-9)
    assert math.isclose(out.upper_bound, hi, rel_tol=1e-9)


def test_robust_bounds_zero_mad_guard(spark):
    # constant group -> MAD 0 -> NULL bounds (reference skips the group)
    df = spark.createDataFrame([("g", 5.0)] * 10, ["grp", "x"])
    out = robust_bounds(df, ["grp"], "x").first()
    assert out.lower_bound is None and out.upper_bound is None


def test_robust_bounds_nonpositive_excluded_on_log_scale(spark):
    df = spark.createDataFrame(
        [("g", 0.0), ("g", -1.0)] + [("g", float(v)) for v in (1, 2, 4, 8, 16)],
        ["grp", "x"],
    )
    out = robust_bounds(df, ["grp"], "x", k=1.0).first()
    assert out.lower_bound is not None  # zeros/negatives didn't poison log


def test_group_string_agg_sorted_deterministic(spark):
    df = spark.createDataFrame([("s", "f2"), ("s", "f1"), ("s", "f2")], ["k", "flag"])
    out = group_string_agg(df, ["k"], "flag", distinct=True)
    assert out.first().flags == "f1, f2"


def test_distinct_last_wins(spark):
    df = spark.createDataFrame([("k", 1, "old"), ("k", 2, "new")], ["key", "ts", "v"])
    out = distinct_last_wins(df, ["key"], "ts")
    assert out.first().v == "new"


def test_sum_not_null_all_null_is_zero(spark):
    df = spark.createDataFrame([("g", None), ("g", None)], "k string, x double")
    out = df.groupBy("k").agg(sum_not_null("x").alias("s"))
    assert out.first().s == 0.0


def test_carry_by_max_deterministic(spark):
    from peskas_mozambique_data_pipeline_spark.operators.aggregates import carry_by_max
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("k", 1, "old"), ("k", 3, "newest"), ("k", 2, "mid")], ["key", "ts", "v"]
    )
    out = df.groupBy("key").agg(
        carry_by_max("v", F.struct(F.col("ts"), F.col("v"))).alias("latest")
    )
    assert out.first().latest == "newest"


def test_percentile_matches_r_type7(spark):
    """Spark `percentile` must match R's type-7 quantile (numpy
    'linear') exactly — the A6 parity claim (SURVEY §4 note 2)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(42)
    vals = rng.uniform(0, 1000, size=137).tolist()
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    for q in (0.05, 0.25, 0.5, 0.6, 0.75, 0.95):
        got = df.agg(F.percentile("x", F.lit(q)).alias("p")).first().p
        want = float(np.percentile(vals, q * 100, method="linear"))
        assert math.isclose(got, want, rel_tol=1e-12), (q, got, want)


def test_approx_aggregates_within_tolerance(spark):
    from peskas_mozambique_data_pipeline_spark.operators.aggregates import (
        approx_distinct,
        approx_quantile,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 20000).select(
        (F.col("id") % 5000).alias("k"), (F.col("id") % 997).cast("double").alias("v")
    )
    row = df.agg(
        approx_distinct("k").alias("d"),
        approx_quantile("v", 0.5).alias("med"),
        F.countDistinct("k").alias("d_exact"),
        F.percentile("v", F.lit(0.5)).alias("med_exact"),
    ).first()
    assert abs(row.d - row.d_exact) / row.d_exact < 0.05
    assert abs(row.med - row.med_exact) <= 5.0


def test_interval_join_equals_brute_force(spark):
    """Bucketized range join must equal the naive theta join exactly,
    across bin widths (including bins smaller and larger than the
    interval length), emitting each pair exactly once."""
    import datetime

    from peskas_mozambique_data_pipeline_spark.operators.joins import interval_join

    base = datetime.datetime(2024, 1, 1)
    pts = [
        (i, i % 3, base + datetime.timedelta(minutes=17 * i)) for i in range(60)
    ]
    ivs = [
        (
            100 + j,
            j % 3,
            base + datetime.timedelta(minutes=45 * j),
            base + datetime.timedelta(minutes=45 * j + 90),
        )
        for j in range(20)
    ]
    points = spark.createDataFrame(pts, "pid long, k long, pts timestamp")
    intervals = spark.createDataFrame(
        ivs, "iid long, k long, s timestamp, e timestamp"
    )
    brute = {
        (r.pid, r.iid)
        for r in points.crossJoin(
            intervals.withColumnRenamed("k", "k2")
        )
        .filter(
            (F.col("k") == F.col("k2"))
            & (F.col("pts") >= F.col("s"))
            & (F.col("pts") <= F.col("e"))
        )
        .collect()
    }
    assert len(brute) > 0
    for bin_seconds in (600, 5400, 86400):
        rows = interval_join(
            points, intervals, point_col="pts", start_col="s", end_col="e",
            by=["k"], bin_seconds=bin_seconds,
        ).collect()
        got = [(r.pid, r.iid) for r in rows]
        assert len(got) == len(set(got)), "duplicate pair emitted"
        assert set(got) == brute, bin_seconds


def test_funnel_stages_ordering_semantics(spark):
    """Stage k counts only when strictly after stage k-1: a purchase
    BEFORE the click must not count even when after signup."""
    import datetime

    from peskas_mozambique_data_pipeline_spark.operators.windows import (
        funnel_stages,
    )

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes the funnel in order
        (1, 1, "signup", t(0)), (2, 1, "click", t(5)), (3, 1, "purchase", t(9)),
        # u2: purchase before click -> counts signup + click only
        (4, 2, "signup", t(0)), (5, 2, "purchase", t(2)), (6, 2, "click", t(4)),
        # u3: click before signup -> signup only
        (7, 3, "click", t(0)), (8, 3, "signup", t(1)),
        # u4: never signs up -> counted nowhere
        (9, 4, "click", t(0)), (10, 4, "purchase", t(1)),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r.stage: r.n_users
        for r in funnel_stages(events, ["signup", "click", "purchase"]).collect()
    }
    assert got == {"signup": 3, "click": 2, "purchase": 1}


def test_pagerank_properties(spark):
    """Star graph: the hub must outrank every leaf; ranks are
    deterministic under repartitioning and sum to ~1."""
    from peskas_mozambique_data_pipeline_spark.operators.graph import pagerank

    rows = []
    for leaf in range(1, 9):
        rows.append(("hub", f"l{leaf}"))
        rows.append((f"l{leaf}", "hub"))
    edges = spark.createDataFrame(rows, "src string, dst string")
    pr = {r.node: r.rank for r in pagerank(edges, n_iters=3).collect()}
    assert len(pr) == 9
    assert all(pr["hub"] > pr[f"l{i}"] for i in range(1, 9))
    assert abs(sum(pr.values()) - 1.0) < 0.01
    pr2 = {
        r.node: r.rank
        for r in pagerank(edges.repartition(5), n_iters=3).collect()
    }
    assert pr == pr2  # bit-identical: integer arithmetic end-to-end


def test_triangle_counts_known_graph(spark):
    from peskas_mozambique_data_pipeline_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant
    # edge 4-5 (no triangle) and a disjoint triangle {6,7,8}
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (6, 7), (6, 8), (7, 8)], "a long, b long"
    )
    got = {r.node: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}


def test_triangle_counts_matches_brute_force(spark):
    """Degree-ordered enumeration == brute force on a deterministic
    pseudo-random graph with hubs (node 0 connected to everything)."""
    import itertools

    nodes = list(range(20))
    edges = [(0, b) for b in range(1, 20)]  # hub
    edges += [
        (a, b)
        for a, b in itertools.combinations(range(1, 20), 2)
        if (a * 7 + b * 13) % 5 == 0
    ]
    es = set(edges)
    brute = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    from peskas_mozambique_data_pipeline_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "a long, b long")
    got = triangle_counts(df).agg(F.sum("triangles")).collect()[0][0]
    assert got == 3 * brute  # each triangle counted at all 3 nodes


def test_association_rules_known_counts(spark):
    from peskas_mozambique_data_pipeline_spark.operators.aggregates import (
        association_rules,
    )

    # 4 baskets: {a,b,c}, {a,b}, {a,c}, {d}
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "d"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    got = {
        (r.item_a, r.item_b): r
        for r in association_rules(df, "bk", "it", min_pair_count=2).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c")}
    ab = got[("a", "b")]
    assert (ab.n_ab, ab.n_a, ab.n_b) == (2, 3, 2)
    assert ab.support == 0.5          # 2 of 4 baskets
    assert ab.confidence_ab == round(2 / 3, 6)
    assert ab.lift == round(2 * 4 / (3 * 2), 6)


def test_kcore_known_graph_and_python_twin(spark):
    from peskas_mozambique_data_pipeline_spark.operators.graph import kcore

    # a 4-clique (0-3) with a pendant path 3-10-11 and an isolated
    # triangle (20,21,22): 3-core = the clique; 2-core = clique+triangle
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(3, 10), (10, 11), (20, 21), (21, 22), (20, 22)]
    df = spark.createDataFrame(edges, "a long, b long")

    def py_kcore(es, k):
        es = {tuple(e) for e in es}
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            weak = {n for n, d in deg.items() if d < k}
            if not weak:
                return deg
            es = {(a, b) for a, b in es if a not in weak and b not in weak}
            if not es:
                return {}

    for k in (1, 2, 3, 4):
        got = {r.n: r.degree for r in kcore(df, k).collect()}
        assert got == py_kcore(edges, k), k
        assert all(d >= k for d in got.values())
    assert {r.n for r in kcore(df, 3).collect()} == {0, 1, 2, 3}
    assert {r.n for r in kcore(df, 2).collect()} == {0, 1, 2, 3, 20, 21, 22}
    assert kcore(df, 4).count() == 0  # 4-core empty: clique degrees are 3
    # peeling the pendant path 3-10-11 takes two rounds: a partial peel
    # must raise, never masquerade as the core
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, 2, max_iter=2)
    # input normalization: duplicates / reversed / self-loop edges
    noisy = df.unionAll(
        spark.createDataFrame([(1, 0), (5, 5), (0, 1)], "a long, b long")
    )
    assert {r.n: r.degree for r in kcore(noisy, 3).collect()} == py_kcore(
        edges, 3
    )
    # partitioning-invariant (the fixpoint is unique)
    assert {
        r.n: r.degree for r in kcore(df.repartition(7), 2).collect()
    } == py_kcore(edges, 2)
