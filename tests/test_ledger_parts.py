"""The compacting ledgers' shared algebra (``streaming/ledger.py``): the
newest snapshot and the deltas after it are read as ONE multi-path
parquet scan, which is exact only if every ledger's snapshot keeps its
delta's schema and deltas the snapshot covers are never read again; and
a crash between the snapshot write and the delete, or during the
snapshot write, replays exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.io import parquet_io
from peskas_mozambique_data_pipeline_spark.operators.expectations import expect
from peskas_mozambique_data_pipeline_spark.streaming import (
    bloom_ledger,
    cdc_zone,
    distinct_ledger,
    dq_ledger,
    freq_ledger,
    governance,
    ingest,
    ledger,
    quantile_ledger,
    release_ledger,
    rollup_zone,
)
from peskas_mozambique_data_pipeline_spark.streaming.ledger import read_parts

SCHEMA = "k long, seq long, op string, grp string, cents long"


def _land(spark, landing, n_files=3, rows_per_file=40):
    """``n_files`` landing files, one micro-batch each; upserts only,
    with a globally increasing ``seq`` as the change ledgers require."""
    schema = None
    for f in range(n_files):
        lo = f * rows_per_file
        rows = [
            (i % 50, i, "upsert", "ab"[i % 2], i * 3)
            for i in range(lo, lo + rows_per_file)
        ]
        df = spark.createDataFrame(rows, SCHEMA)
        df.coalesce(1).write.mode("append").parquet(landing)
        schema = df.schema
    return schema


def _query(kind, stream, zone, ck):
    """Start one ledger over ``stream`` with a snapshot every 2 batches;
    returns the query and the (delta dir, snapshot dir) pairs it
    maintains."""
    g = ["grp"]
    if kind == "distinct":
        q, _ = distinct_ledger.stream_distinct_ledger(
            stream, zone, ck, "k", g, compact_every=2
        )
        subs = [(distinct_ledger.REG_SUBDIR, distinct_ledger.REG_COMPACT_SUBDIR)]
    elif kind == "dq":
        rules = [expect("cents_small", F.col("cents") < 200)]
        q, _ = dq_ledger.stream_dq_ledger(
            stream, zone, ck, rules, g, compact_every=2
        )
        subs = [(dq_ledger.DQ_SUBDIR, dq_ledger.DQ_COMPACT_SUBDIR)]
    elif kind == "release":
        q, _ = release_ledger.stream_release_ledger(
            stream, zone, ck, g, compact_every=2
        )
        subs = [(release_ledger.FOLD_SUBDIR, release_ledger.FOLD_COMPACT_SUBDIR)]
    elif kind == "freq":
        q, _ = freq_ledger.stream_freq_ledger(
            stream, zone, ck, "k", g, compact_every=2
        )
        subs = [(freq_ledger.CELLS_SUBDIR, freq_ledger.CELLS_COMPACT_SUBDIR)]
    elif kind == "quantile":
        q, _ = quantile_ledger.stream_quantile_ledger(
            stream, zone, ck, "cents", g, compact_every=2
        )
        subs = [(quantile_ledger.HIST_SUBDIR, quantile_ledger.HIST_COMPACT_SUBDIR)]
    elif kind == "bloom":
        q, _ = bloom_ledger.stream_bloom_ledger(
            stream, zone, ck, "k", g, compact_every=2
        )
        subs = [(bloom_ledger.BLOOM_SUBDIR, bloom_ledger.BLOOM_COMPACT_SUBDIR)]
    elif kind == "cap":
        q, _, _ = governance.stream_source_cap(
            stream, zone, ck, "grp", id_col="k", compact_every=2
        )
        subs = [(governance.COUNTS_SUBDIR, governance.COUNTS_COMPACT_SUBDIR)]
    elif kind == "cdc":
        q, _ = cdc_zone.stream_cdc_zone(stream, zone, ck, ["k"], compact_every=2)
        subs = [(cdc_zone.CDC_SUBDIR, cdc_zone.CDC_COMPACT_SUBDIR)]
    else:
        q, _ = rollup_zone.stream_rollup_zone(
            stream, zone, ck, ["k"], g, ["cents"], compact_every=2
        )
        subs = [
            (cdc_zone.CDC_SUBDIR, cdc_zone.CDC_COMPACT_SUBDIR),
            (rollup_zone.ROLLUP_SUBDIR, rollup_zone.ROLLUP_COMPACT_SUBDIR),
        ]
    return q, [(os.path.join(zone, d), os.path.join(zone, c)) for d, c in subs]


def _start(kind, stream, zone, ck):
    """Run one ledger to completion; returns its (delta dir, snapshot
    dir) pairs."""
    q, subs = _query(kind, stream, zone, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    return subs


def _types(spark, path):
    return {f.name: f.dataType for f in spark.read.parquet(path).schema}


@pytest.mark.parametrize(
    "kind",
    ["distinct", "dq", "release", "freq", "quantile", "bloom", "cap", "cdc", "rollup"],
)
def test_snapshot_and_delta_schemas_agree(spark, tmp_path, kind):
    landing = str(tmp_path / "landing")
    schema = _land(spark, landing)
    stream = ingest.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    for delta_dir, compact_dir in _start(
        kind, stream, str(tmp_path / "zone"), str(tmp_path / "ck")
    ):
        # batches 0..2 with a snapshot after batch 1: upto=0 plus
        # deltas 1 and 2
        assert ledger.dir_ids(compact_dir, "upto") == [0]
        assert ledger.dir_ids(delta_dir, "batch") == [1, 2]
        snap = _types(spark, os.path.join(compact_dir, "upto=0"))
        for b in (1, 2):
            assert _types(spark, os.path.join(delta_dir, f"batch={b}")) == snap


def test_replayed_batch_after_snapshot_counts_once(spark, tmp_path):
    """A SUM fold must skip a delta its snapshot already covers — the
    state a crash between snapshot write and delete leaves, and the
    state a replay of that batch recreates."""
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    rows = [(i, "s1" if i % 3 else "s2") for i in range(90)]
    schema = None
    for lo in (0, 30, 60):
        df = spark.createDataFrame(rows[lo:lo + 30], "doc_id long, source string")
        df.coalesce(1).write.mode("append").parquet(landing)
        schema = df.schema
    stream = ingest.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, fold_dir = release_ledger.stream_release_ledger(
        stream, zone, str(tmp_path / "ck"), ["source"], compact_every=2
    )
    q.awaitTermination(120)
    compact_dir = os.path.join(zone, release_ledger.FOLD_COMPACT_SUBDIR)
    assert ledger.dir_ids(compact_dir, "upto") == [0]

    # replay batch 0 after upto=0 landed: its delta dir is back
    first = spark.createDataFrame(rows[0:30], "doc_id long, source string")
    release_ledger._delta(first, ["source"]).write.mode("overwrite").parquet(
        os.path.join(fold_dir, "batch=0")
    )
    assert ledger.dir_ids(fold_dir, "batch") == [0, 1, 2]

    parts = read_parts(spark, fold_dir, compact_dir)
    plan = parts._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert sum(r.n_rows for r in parts.collect()) == len(rows)

    got = {
        (r.source, r.n_rows, r.content_fp)
        for r in release_ledger.read_release_fold(spark, zone, ["source"]).collect()
    }
    want = {
        (r.source, r.n_rows, r.content_fp)
        for r in parquet_io.release_fold(spark.read.parquet(landing), ["source"]).collect()
    }
    assert got == want


def _read(kind, spark, zone):
    """The ledger's public read, as sorted rows."""
    g = ["grp"]
    if kind == "distinct":
        df = distinct_ledger.read_registers(spark, zone, g)
    elif kind == "dq":
        df = dq_ledger.read_dq_ledger(spark, zone, g)
    elif kind == "release":
        df = release_ledger.read_release_fold(spark, zone, g)
    elif kind == "freq":
        df = freq_ledger.read_cells(spark, zone, g)
    elif kind == "quantile":
        df = quantile_ledger.read_histogram(spark, zone, g)
    elif kind == "bloom":
        df = bloom_ledger.read_filter(spark, zone, g)
    elif kind == "cdc":
        df = cdc_zone.read_cdc_state(spark, zone, ["k"])
    else:
        df = rollup_zone.read_rollup(spark, zone, g, ["cents"])
        return sorted(map(tuple, df.collect())), _read("cdc", spark, zone)
    return sorted(map(tuple, df.collect()))


def _crash_and_replay(spark, tmp_path, kind, inject, upto_at_crash):
    """Run ``kind`` into the crash ``inject()`` installs (first call
    only) after an uncrashed reference run, check the read at the crash, restart from the same checkpoint and
    check the replay lands the uncrashed read and layout.  AQE is off
    for the crashed run so the replayed compaction cannot lean on AQE
    running the fold's shuffle before an overwrite deletes its input."""
    landing = str(tmp_path / "landing")
    schema = _land(spark, landing, n_files=2)

    def stream():
        return ingest.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )

    _start(kind, stream(), str(tmp_path / "ref"), str(tmp_path / "ck_ref"))
    want = _read(kind, spark, str(tmp_path / "ref"))

    inject()
    zone, ck = str(tmp_path / "zone"), str(tmp_path / "ck")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q, subs = _query(kind, stream(), zone, ck)
        with pytest.raises(Exception):
            q.awaitTermination(120)
        # batch 1 crashed in its compaction: batch 0 (folded into
        # snapshot upto=0 when it was written) and batch 1 on disk
        delta_dir, compact_dir = subs[0]
        assert ledger.dir_ids(compact_dir, "upto") == upto_at_crash
        assert ledger.dir_ids(delta_dir, "batch") == [0, 1]
        assert _read(kind, spark, zone) == want

        _start(kind, stream(), zone, ck)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert _read(kind, spark, zone) == want
    for delta_dir, compact_dir in subs:
        assert sorted(os.listdir(compact_dir)) == ["upto=0"]
        assert ledger.dir_ids(delta_dir, "batch") == [1]


LEDGER_KINDS = ["distinct", "dq", "release", "freq", "quantile", "bloom", "cdc", "rollup"]


@pytest.mark.slow
@pytest.mark.parametrize("kind", LEDGER_KINDS)
def test_crash_between_snapshot_and_prune_replays_exactly(
    spark, tmp_path, monkeypatch, kind
):
    """Crash every ledger after its snapshot is written and before
    anything is deleted.  The read at the crash must skip the delta the
    snapshot covers."""
    real_prune = ledger.prune
    calls = []

    def crash_once(*args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("injected crash between snapshot and prune")
        real_prune(*args)

    _crash_and_replay(
        spark, tmp_path, kind,
        lambda: monkeypatch.setattr(ledger, "prune", crash_once), upto_at_crash=[0],
    )


def _tear_first_snapshot_write(monkeypatch, torn: list) -> None:
    """Make the first snapshot write (a path holding ``upto=``) crash
    part-way: its files land, then its data files vanish before the
    crash, as when a process dies mid-write.  Records the torn path."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kw):
        real(self, path, *args, **kw)
        if "upto=" in path and not torn:
            torn.append(path)
            for name in os.listdir(path):
                if name.startswith("part-"):
                    os.remove(os.path.join(path, name))
            raise RuntimeError("injected crash inside the snapshot write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


@pytest.mark.slow
@pytest.mark.parametrize("kind", LEDGER_KINDS)
def test_crash_inside_snapshot_write_replays_exactly(
    spark, tmp_path, monkeypatch, kind
):
    """Crash every ledger part-way through its snapshot write.  The torn
    snapshot sits under ``upto=0.tmp``, whose id does not parse, so the
    read at the crash still counts every delta, and the replay rewrites
    the snapshot and renames it into place."""
    torn = []
    _crash_and_replay(
        spark, tmp_path, kind,
        lambda: _tear_first_snapshot_write(monkeypatch, torn), upto_at_crash=[],
    )
    assert len(torn) == 1 and torn[0].endswith("upto=0.tmp")
