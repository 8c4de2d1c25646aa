from __future__ import annotations

import os

from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.streaming import dedup_index as di
from peskas_mozambique_data_pipeline_spark.streaming import ingest as si
from peskas_mozambique_data_pipeline_spark.streaming import ledger
import pytest

DOC = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
OTHER = "completely different words about spark engines and shuffle partitions here now"
THIRD = "yet another entirely unrelated body of text with its own words inside"


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def test_incremental_index_finds_cross_batch_pairs(spark, tmp_path):
    landing = str(tmp_path / "landing")
    # batch 1: two unrelated docs
    schema = _write(spark, landing, [(1, DOC), (2, OTHER)])
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")

    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, index_dir, pairs_dir = di.stream_near_dup_index(
        stream, zone, ck, jaccard_threshold=0.5
    )
    q.awaitTermination(120)
    # no near-dups yet
    assert di.read_pairs(spark, pairs_dir).count() == 0

    # batch 2 (new file, SAME checkpoint): doc 3 is a near-dup of the
    # ALREADY-INDEXED doc 1; docs 4/5 are an in-batch exact pair
    _write(spark, landing, [(3, DOC_NEAR), (4, THIRD), (5, THIRD)])
    stream2 = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q2, _, _ = di.stream_near_dup_index(stream2, zone, ck, jaccard_threshold=0.5)
    q2.awaitTermination(120)

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in di.read_pairs(spark, pairs_dir).collect()
    }
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0  # cross-batch
    assert got.get((4, 5)) == 1.0                       # within-batch
    assert (1, 2) not in got and (2, 3) not in got

    # the index accumulated every doc's signatures across batches
    idx = di.read_index(spark, index_dir, str(tmp_path / "zone" / di.COMPACT_SUBDIR))
    assert set(r.doc_id for r in idx.select("doc_id").distinct().collect()) == {
        1, 2, 3, 4, 5,
    }

    # restart with no new data: nothing recomputes, pairs unchanged
    stream3 = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q3, _, _ = di.stream_near_dup_index(stream3, zone, ck, jaccard_threshold=0.5)
    q3.awaitTermination(120)
    assert di.read_pairs(spark, pairs_dir).count() == len(got)


@pytest.mark.slow
def test_compaction_bounds_the_index(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, [(1, DOC), (2, OTHER)])
    _write(spark, landing, [(3, DOC_NEAR)])
    _write(spark, landing, [(4, THIRD), (5, THIRD)])
    _write(spark, landing, [(6, OTHER + " extra")])

    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q, index_dir, pairs_dir = di.stream_near_dup_index(
        stream, zone, ck, jaccard_threshold=0.5, compact_every=2
    )
    q.awaitTermination(180)

    compact_dir = str(tmp_path / "zone" / di.COMPACT_SUBDIR)
    # 4 batches, compact_every=2 → snapshots after batches 1 and 3;
    # only the newest survives and every merged delta dir is gone
    import os

    snaps = [n for n in os.listdir(compact_dir) if n.startswith("upto=")]
    assert snaps == ["upto=3"]
    assert not [n for n in os.listdir(index_dir) if n.startswith("batch=")]
    # the snapshot is a catalog-registered EXTERNAL table hash-bucketed
    # on the (band, bucket) join key, its files living in the upto= dir
    # (round-7: PipelineZones.write_bucketed posture for the hottest
    # join); the superseded snapshot's catalog entry is gone
    assert spark.catalog.tableExists(di._snapshot_table(compact_dir, 3))
    assert not spark.catalog.tableExists(di._snapshot_table(compact_dir, 1))
    assert any(
        n.endswith(".parquet")
        for n in os.listdir(os.path.join(compact_dir, "upto=3"))
    )

    # compaction changed the layout, not the contents
    idx = di.read_index(spark, index_dir, compact_dir)
    assert set(r.doc_id for r in idx.select("doc_id").distinct().collect()) == {
        1, 2, 3, 4, 5, 6,
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in di.read_pairs(spark, pairs_dir).collect()
    }
    assert (1, 3) in got and got.get((4, 5)) == 1.0


def _crash_and_replay(spark, tmp_path, inject, upto_at_crash):
    """Run the index into the crash ``inject()`` installs (first call
    only) after an uncrashed reference run, then restart from the same checkpoint: the replay lands the
    uncrashed pairs and layout, and catalogues the snapshot."""
    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, [(1, DOC), (2, OTHER)])
    _write(spark, landing, [(3, DOC_NEAR), (4, THIRD), (5, THIRD)])

    def run(name):
        stream = si.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )
        q, index_dir, pairs_dir = di.stream_near_dup_index(
            stream, str(tmp_path / name), str(tmp_path / f"ck_{name}"),
            jaccard_threshold=0.5, compact_every=2,
        )
        q.awaitTermination(180)
        return index_dir, pairs_dir

    _, ref_pairs = run("ref")
    want = sorted(map(tuple, di.read_pairs(spark, ref_pairs).collect()))

    inject()
    with pytest.raises(Exception):
        run("zone")
    index_dir = str(tmp_path / "zone" / di.INDEX_SUBDIR)
    compact_dir = str(tmp_path / "zone" / di.COMPACT_SUBDIR)
    assert ledger.dir_ids(compact_dir, "upto") == upto_at_crash
    assert ledger.dir_ids(index_dir, "batch") == [0, 1]

    _, pairs_dir = run("zone")
    assert sorted(map(tuple, di.read_pairs(spark, pairs_dir).collect())) == want
    assert sorted(os.listdir(compact_dir)) == ["upto=1"]
    assert ledger.dir_ids(index_dir, "batch") == []
    assert spark.catalog.tableExists(di._snapshot_table(compact_dir, 1))


@pytest.mark.slow
def test_crash_between_snapshot_and_prune_replays_exactly(
    spark, tmp_path, monkeypatch
):
    """Crash the compaction after the bucketed snapshot is written and
    before anything is deleted, then restart from the same checkpoint:
    the replayed batch keeps the snapshot it finds (rewriting it would
    overwrite the table it reads) and lands the uncrashed pairs and
    layout."""
    real_prune = di.prune
    calls = []

    def crash_once(*args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("injected crash between snapshot and prune")
        real_prune(*args)

    _crash_and_replay(
        spark, tmp_path, lambda: monkeypatch.setattr(di, "prune", crash_once), [1]
    )


@pytest.mark.slow
def test_crash_inside_snapshot_write_replays_exactly(spark, tmp_path, monkeypatch):
    """Crash the compaction part-way through the bucketed snapshot
    write: its files land under ``upto=1.tmp``, then its data files
    vanish before the crash.  No reader counts that directory, the
    catalog never names it, and the replay rewrites the snapshot."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.saveAsTable
    torn = []

    def save_as_table(self, name, *args, **kw):
        real(self, name, *args, **kw)
        if not torn:
            tmp = str(tmp_path / "zone" / di.COMPACT_SUBDIR / "upto=1.tmp")
            torn.append(tmp)
            for f in os.listdir(tmp):
                if f.startswith("part-"):
                    os.remove(os.path.join(tmp, f))
            raise RuntimeError("injected crash inside the snapshot write")

    _crash_and_replay(
        spark, tmp_path,
        lambda: monkeypatch.setattr(DataFrameWriter, "saveAsTable", save_as_table), [],
    )
    assert len(torn) == 1


def test_streaming_pairs_match_batch_pipeline(spark, tmp_path):
    """The property that makes "incremental" trustworthy: N streamed
    batches accumulate EXACTLY the pair set the batch pipeline
    (minhash candidates + Jaccard verify) finds on the unioned corpus
    at the same threshold."""
    from peskas_mozambique_data_pipeline_spark.operators import dedup as dd
    from peskas_mozambique_data_pipeline_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    landing = str(tmp_path / "landing")
    # three arrival files = three micro-batches, split by doc_id so the
    # stream sees the corpus in deterministic pieces
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = si.stream_landing_zone(
        spark, landing, docs.schema, max_files_per_trigger=1
    )
    q, index_dir, pairs_dir = di.stream_near_dup_index(
        stream,
        str(tmp_path / "zone"),
        str(tmp_path / "ck"),
        jaccard_threshold=0.5,
        compact_every=2,
    )
    q.awaitTermination(300)

    streamed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in di.read_pairs(spark, pairs_dir).collect()
    }

    hashed = dd.shingle_hash_frame(docs, materialize=True)
    cand = dd.minhash_candidates_from_hashes(hashed)
    batch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.jaccard_verify_hashed(hashed, cand)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert streamed == batch
    assert len(batch) > 0  # the corpus actually contains near-dups


def test_snapshot_join_is_exchange_free_on_corpus_side(spark, tmp_path):
    """Zone-DAG invariant (round 7): after compaction, the per-batch
    candidate join reads the corpus snapshot THROUGH its bucketed
    catalog table, so the corpus side carries hash partitioning on the
    (band, bucket) join key into the join — the ONLY exchanges in the
    plan belong to the small new-batch side (and the pair dedup), never
    a re-shuffle of the snapshot scan."""
    import os

    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, [(1, DOC), (2, OTHER)])
    _write(spark, landing, [(3, THIRD)])
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q, index_dir, _ = di.stream_near_dup_index(
        stream, zone, ck, jaccard_threshold=0.5, compact_every=2
    )
    q.awaitTermination(180)
    compact_dir = str(tmp_path / "zone" / di.COMPACT_SUBDIR)

    snapshot, deltas = di.read_index_parts(spark, index_dir, compact_dir)
    assert snapshot is not None and deltas is None  # fully compacted

    new_rows = di._index_frame(
        spark.createDataFrame([(9, DOC_NEAR)], "doc_id long, text string"),
        "text", "doc_id", 5, 8, 4,
    )
    joined = di._verified_pairs(new_rows, snapshot, "doc_id", 0.5)
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the bucketed scan feeds the join directly: no Exchange may sit
    # between the snapshot's FileScan and the SortMergeJoin.  Walk the
    # plan text: the scan line for the snapshot table must not have an
    # Exchange above it within its join branch.  Cheap proxy that holds
    # for this plan shape: exactly the batch-side exchanges exist, and
    # the snapshot scan advertises its bucketing.
    assert "Bucketed: true" in joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # branch-local check: at most ONE (band, bucket) hash exchange in
    # the whole plan — the batch side's.  A both-sides-shuffled SMJ on
    # the join key would show two.
    assert plan.count("Exchange hashpartitioning(band") <= 1, plan


def test_snapshot_fallback_without_catalog_entry(spark, tmp_path):
    """A fresh session has no catalog entry for the snapshot table —
    read_index_parts must fall back to a plain parquet read of the same
    files (correct, just unbucketed).  Simulated by dropping the table
    (external: DROP leaves the files)."""
    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, [(1, DOC), (2, OTHER)])
    _write(spark, landing, [(3, DOC_NEAR)])
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q, index_dir, pairs_dir = di.stream_near_dup_index(
        stream, zone, ck, jaccard_threshold=0.5, compact_every=2
    )
    q.awaitTermination(180)
    compact_dir = str(tmp_path / "zone" / di.COMPACT_SUBDIR)
    table = di._snapshot_table(compact_dir, 1)
    assert spark.catalog.tableExists(table)
    before = {r.doc_id for r in di.read_index(spark, index_dir, compact_dir)
              .select("doc_id").distinct().collect()}

    spark.sql(f"DROP TABLE {table}")  # external: files stay

    snapshot, _ = di.read_index_parts(spark, index_dir, compact_dir)
    assert snapshot is not None
    after = {r.doc_id for r in di.read_index(spark, index_dir, compact_dir)
             .select("doc_id").distinct().collect()}
    assert after == before == {1, 2, 3}


def test_batch_probe_matches_stream_join(spark, tmp_path):
    """probe_index: the read-only batch probe finds the same matches
    the maintaining stream would, leaves the index unchanged, and
    keeps the snapshot side exchange-free."""
    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, [(1, DOC), (2, OTHER), (3, THIRD)])
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    # compact_every=1 so the probe exercises the bucketed-snapshot path
    q, index_dir, _ = di.stream_near_dup_index(
        stream, zone, ck, jaccard_threshold=0.5, compact_every=1
    )
    q.awaitTermination(120)

    probe = spark.createDataFrame(
        [(100, DOC_NEAR), (101, "fully novel content nothing matches this")],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.index_id): r.jaccard
        for r in di.probe_index(probe, zone, jaccard_threshold=0.5).collect()
    }
    assert set(got) == {(100, 1)}
    assert 0.5 <= got[(100, 1)] < 1.0

    # read-only: index contents unchanged after probing
    idx = di.read_index(spark, index_dir, str(tmp_path / "zone" / di.COMPACT_SUBDIR))
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 2, 3}

    # plan: the snapshot side of the probe join carries its bucket
    # partitioning — no Exchange feeds the sorted snapshot scan
    snapshot, _ = di.read_index_parts(
        spark, index_dir, str(tmp_path / "zone" / di.COMPACT_SUBDIR)
    )
    assert snapshot is not None
    plan = (
        di.probe_index(probe, zone, jaccard_threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_filter_against_index_drops_matches(spark, tmp_path):
    landing = str(tmp_path / "landing")
    schema = _write(spark, landing, [(1, DOC)])
    zone = str(tmp_path / "zone")
    stream = si.stream_landing_zone(spark, landing, schema, max_files_per_trigger=1)
    q, _, _ = di.stream_near_dup_index(
        stream, zone, str(tmp_path / "ck"), jaccard_threshold=0.5
    )
    q.awaitTermination(120)
    incoming = spark.createDataFrame(
        [(100, DOC_NEAR), (101, OTHER)], "doc_id long, text string"
    )
    kept = di.filter_against_index(incoming, zone, jaccard_threshold=0.5)
    assert [r.doc_id for r in kept.collect()] == [101]
    assert kept.columns == incoming.columns
