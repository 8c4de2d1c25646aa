"""Streaming release-integrity ledger: bit-exact stream ≡ batch fold
parity (SUM monoid with keyed-overwrite deltas), compaction
equivalence, restart idempotency, and the DuckDB digit replay."""

from __future__ import annotations

import os

from peskas_mozambique_data_pipeline_spark.io import parquet_io
from peskas_mozambique_data_pipeline_spark.streaming import ingest as si
from peskas_mozambique_data_pipeline_spark.streaming import ledger
from peskas_mozambique_data_pipeline_spark.streaming import release_ledger as rl
import pytest


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def _rows(lo, hi, source):
    return [(i, f"doc body {i}", source) for i in range(lo, hi)]


def _run(spark, landing, zone, ck, schema, **kw):
    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, fold_dir = rl.stream_release_ledger(
        stream, zone, ck, group_cols=["source"], **kw
    )
    q.awaitTermination(120)
    return fold_dir


def _batch_want(spark, landing):
    return {
        (r.source, r.n_rows, r.content_fp)
        for r in parquet_io.release_fold(
            spark.read.parquet(landing), ["source"]
        ).collect()
    }


def test_stream_fold_equals_batch_bit_for_bit(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, _rows(0, 300, "s1"))
    _write(spark, landing, _rows(300, 500, "s2"))
    _write(spark, landing, _rows(500, 800, "s1"))
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)

    got = {
        (r.source, r.n_rows, r.content_fp)
        for r in rl.read_release_fold(spark, zone, ["source"]).collect()
    }
    assert got == _batch_want(spark, landing)


@pytest.mark.slow
def test_compaction_preserves_fold_and_never_double_counts(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, _rows(0, 100, "s1"))
    for i in range(1, 6):
        _write(spark, landing, _rows(i * 100, i * 100 + 100, "s1"))
    fold_dir = _run(
        spark, landing, zone, str(tmp_path / "ck"), schema, compact_every=3
    )

    compact_dir = os.path.join(zone, rl.FOLD_COMPACT_SUBDIR)
    assert ledger.dir_ids(compact_dir, "upto")  # a snapshot landed
    live = ledger.dir_ids(fold_dir, "batch")
    assert all(b > max(ledger.dir_ids(compact_dir, "upto")) for b in live)
    # SUM is not idempotent — the fold surviving compaction bit-exactly
    # is the proof the bookkeeping never double-counts
    got = {
        (r.source, r.n_rows, r.content_fp)
        for r in rl.read_release_fold(spark, zone, ["source"]).collect()
    }
    assert got == _batch_want(spark, landing)


def test_restart_with_no_new_data_is_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, _rows(0, 250, "s1"))

    for _ in range(2):  # second run replays nothing, adds nothing
        stream = si.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )
        q, _ = rl.stream_release_ledger(stream, zone, ck, group_cols=["source"])
        q.awaitTermination(120)

    got = {
        (r.source, r.n_rows, r.content_fp)
        for r in rl.read_release_fold(spark, zone, ["source"]).collect()
    }
    assert got == _batch_want(spark, landing)


def test_ledger_replays_in_duckdb_digit_for_digit(spark, tmp_path):
    """Any engine can audit the stream's all-time fold from the raw
    landing parquet — the release_fold cross-engine contract carried
    to the streaming tier."""
    import duckdb

    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, _rows(0, 120, "s1"))
    _write(spark, landing, _rows(120, 200, "s2"))
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)

    got = {
        (r.source, r.n_rows, r.content_fp)
        for r in rl.read_release_fold(spark, zone, ["source"]).collect()
    }
    key = "concat_ws(chr(31), " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in sorted(["doc_id", "text", "source"])
    ) + ")"
    con = duckdb.connect()
    want = set(
        con.execute(
            f"""
            SELECT source, COUNT(*),
                   CAST(SUM(CAST(('0x' || substr(md5({key}), 1, 15))
                                 AS BIGINT)::HUGEINT) AS VARCHAR)
            FROM read_parquet('{landing}/*.parquet') GROUP BY source
            """
        ).fetchall()
    )
    con.close()
    assert got == want
