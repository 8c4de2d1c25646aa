"""Streaming per-source contribution cap: cross-batch slot accounting,
priority to earlier arrivals, restart idempotency."""

from __future__ import annotations

from peskas_mozambique_data_pipeline_spark.streaming import governance as gov
from peskas_mozambique_data_pipeline_spark.streaming import ingest as si
from peskas_mozambique_data_pipeline_spark.streaming import ledger
import pytest


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def test_stream_cap_enforces_across_batches(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    # batch 1: 2 docs for s1, 1 for s2 (cap=3 -> all accepted)
    schema = _write(
        spark, landing, [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")]
    )
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q, kept_dir, counts_dir = gov.stream_source_cap(
        stream, zone, ck, cap=3, id_col="doc_id"
    )
    q.awaitTermination(120)
    kept = gov.read_kept(spark, kept_dir)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]

    # batch 2: 3 more s1 docs — only 1 slot left; earlier batch holds
    # its slots no matter what hashes the new docs carry
    _write(spark, landing, [(4, "d", "s1"), (5, "e", "s1"), (6, "f", "s1")])
    stream2 = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q2, _, _ = gov.stream_source_cap(stream2, zone, ck, cap=3, id_col="doc_id")
    q2.awaitTermination(120)
    kept = gov.read_kept(spark, kept_dir).collect()
    s1 = sorted(r.doc_id for r in kept if r.source == "s1")
    assert s1[:2] == [1, 2] and len(s1) == 3  # batch-1 docs kept, 1 newcomer
    assert len(s1) + 1 == len(kept)

    # restart with no new data: same keeps, nothing duplicated
    stream3 = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q3, _, _ = gov.stream_source_cap(stream3, zone, ck, cap=3, id_col="doc_id")
    q3.awaitTermination(120)
    assert len(gov.read_kept(spark, kept_dir).collect()) == len(kept)


def test_stream_cap_batch_decision_deterministic(spark, tmp_path):
    """Re-running the same batch contents against the same prior
    counts must keep the same ids (the crash-replay contract)."""
    landing = str(tmp_path / "landing")
    schema = _write(
        spark, landing,
        [(i, f"t{i}", "s1") for i in range(10)],
    )
    for run in ("z1", "z2"):
        zone = str(tmp_path / run)
        ck = str(tmp_path / f"ck_{run}")
        stream = si.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )
        q, kept_dir, _ = gov.stream_source_cap(
            stream, zone, ck, cap=4, id_col="doc_id"
        )
        q.awaitTermination(120)
    a = sorted(
        r.doc_id
        for r in gov.read_kept(spark, str(tmp_path / "z1" / gov.KEPT_SUBDIR)).collect()
    )
    b = sorted(
        r.doc_id
        for r in gov.read_kept(spark, str(tmp_path / "z2" / gov.KEPT_SUBDIR)).collect()
    )
    assert a == b and len(a) == 4


def test_stream_cap_single_batch_equals_batch_operator(spark, tmp_path):
    """With everything in one micro-batch there is no arrival-order
    effect, so the streaming cap must keep EXACTLY the rows the batch
    per_group_cap keeps (both rank by the same md5 order)."""
    from peskas_mozambique_data_pipeline_spark.operators import curation as cur

    rows = [(i, f"t{i}", f"s{i % 3}") for i in range(30)]
    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, rows)
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=10)
    q, kept_dir, _ = gov.stream_source_cap(
        stream, str(tmp_path / "zone"), str(tmp_path / "ck"), cap=4, id_col="doc_id"
    )
    q.awaitTermination(120)
    streamed = sorted(r.doc_id for r in gov.read_kept(spark, kept_dir).collect())

    batch_df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    batch = sorted(
        r.doc_id
        for r in cur.per_group_cap(
            batch_df, group_col="source", cap=4, id_col="doc_id"
        ).filter("_keep").collect()
    )
    assert streamed == batch


@pytest.mark.slow
def test_stream_cap_counts_compaction_bounds_dirs(spark, tmp_path):
    """With compact_every=2 the counts deltas fold into an upto=<id>
    snapshot and superseded dirs are deleted — bounded per-batch state
    reads — while keeps stay identical to an uncompacted run."""
    import os

    landing = str(tmp_path / "landing")
    batches = [
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")],
        [(4, "d", "s1"), (5, "e", "s2"), (6, "f", "s2")],
        [(7, "g", "s1"), (8, "h", "s2"), (9, "i", "s3")],
        [(10, "j", "s1"), (11, "k", "s3"), (12, "m", "s3")],
    ]
    schema = None
    for rows in batches:
        schema = _write(spark, landing, rows)

    runs = {}
    for name, compact_every in (("nc", None), ("cc", 2)):
        zone = str(tmp_path / name)
        ck = str(tmp_path / f"ck_{name}")
        stream = si.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )
        q, kept_dir, counts_dir = gov.stream_source_cap(
            stream, zone, ck, cap=2, id_col="doc_id",
            compact_every=compact_every,
        )
        q.awaitTermination(180)
        runs[name] = sorted(
            (r.doc_id, r.source) for r in gov.read_kept(spark, kept_dir).collect()
        )
        if compact_every:
            # 4 batches, compact_every=2 → folds after batch 1 (upto=0)
            # and batch 3 (upto=2): one surviving snapshot, ≤ compact
            # window of delta dirs
            n_deltas = len(ledger.dir_ids(counts_dir, "batch"))
            snaps = ledger.dir_ids(
                os.path.join(zone, gov.COUNTS_COMPACT_SUBDIR), "upto"
            )
            assert snaps == [2]
            assert n_deltas <= compact_every, (n_deltas, snaps)
    assert runs["nc"] == runs["cc"] and len(runs["nc"]) > 0
