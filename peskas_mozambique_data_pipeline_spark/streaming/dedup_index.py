"""Incremental near-duplicate index: streaming MinHash maintenance.

Batch near-dup detection (``operators/dedup.py``) recomputes the whole
corpus per run.  At ingest time the right shape is INCREMENTAL: each
micro-batch of new documents is

1. shingle-hashed + MinHash-signed (the same engine-portable
   signatures the batch path and the DuckDB oracle use),
2. LSH-checked against the ACCUMULATED signature index — an equi-join
   on (band, bucket), so each new doc only meets the corpus rows it
   collides with, never the whole index,
3. Jaccard-verified (exact, on the stored shingle-hash sets) for both
   batch-vs-corpus and within-batch pairs, and
4. appended to the index, so the next batch sees it.

Writes are idempotent per micro-batch (``batch=<id>`` subdirectory
overwrite, the same pattern as ``stream_to_versioned_zone``) — a batch
replayed after a crash between write and checkpoint commit overwrites
its own output.  Pair emission is exactly-once by construction: a
(corpus doc, new doc) pair is emitted only in the new doc's batch.

Index layout (what actually bounds the per-batch read):

* delta dirs ``index_dir/batch=<id>/band=<b>/`` — every write is
  ``partitionBy("band")``, so a band-selective read prunes directories
  instead of scanning whole files;
* snapshot dirs ``compact_dir/upto=<id>/`` — every ``compact_every``
  batches the accumulated index (snapshot + deltas) is rewritten into
  ONE snapshot, persisted as an EXTERNAL table hash-bucketed and
  bucket-sorted on the ``(band, bucket)`` JOIN KEY, and the merged
  delta dirs plus superseded snapshots (and their catalog entries) are
  deleted.  Without compaction, each micro-batch re-lists and re-reads
  O(#batches) directories — reads grow with corpus age; with it the
  read is one snapshot plus at most ``compact_every − 1`` deltas, a
  bounded table.  The bucketing means the corpus-sized snapshot side
  of the per-batch candidate join carries its partitioning into the
  join — ZERO Exchange on the corpus, only the new-batch rows shuffle
  (one write-time shuffle per compaction buys every later join).
  Signatures are immutable (documents are append-only), so compaction
  is a pure rewrite — no upsert key resolution needed, unlike
  ``operators/merge.py``.

Compaction is crash-safe by the shared ledger algebra
(``streaming/ledger.py``): the snapshot is keyed ``upto=<batch_id>``,
written to ``upto=<batch_id>.tmp`` and renamed into place before any
deletion, and catalogued only after the rename; a replayed batch finds
its own snapshot already in place, reads it (its own rows join-filter
out via ``id_n != id_x`` and the pair dedup), rewrites byte-identical
outputs and only prunes.

State lives in the zone, not the state store — the streaming query
itself is stateless, so there is no watermark bound on how far back a
duplicate can be detected.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from .ledger import dir_ids, prune, start_stream

INDEX_SUBDIR = "minhash_index"
COMPACT_SUBDIR = "minhash_index_compacted"
PAIRS_SUBDIR = "near_dup_pairs"

# default bucket count for the compacted-snapshot table: a write-time
# layout knob (the probe side of a join is shuffled to the table's
# bucket count automatically) — size it so one bucket of signatures
# fits an executor at the target corpus scale
SNAPSHOT_BUCKETS = 8


def _snapshot_table(compact_dir: str, upto: int) -> str:
    """Deterministic catalog name for the ``upto=<id>`` snapshot of a
    zone (md5 of the zone path — stable across sessions, unlike
    ``hash()``)."""
    digest = hashlib.md5(compact_dir.encode()).hexdigest()[:12]
    return f"minhash_snap_{digest}_{upto}"


def _index_frame(
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """Per-batch index rows: (id, band, bucket, _h32).  Long form — one
    row per (doc, band) — so the index join is a plain equi-join and
    the shingle-hash set rides along for Jaccard verification."""
    hashed = dedup_ops.shingle_hash_frame(
        batch_df, text_col=text_col, id_col=id_col, shingle_k=shingle_k,
        materialize=True,
    )
    buckets = dedup_ops.band_buckets(hashed, id_col, n_hashes, bands)
    return buckets.join(hashed, id_col)


def _verified_pairs(
    new_rows: DataFrame, index_rows: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a < id_b) near-dup pairs between ``new_rows`` and
    ``index_rows`` — collide on (band, bucket), dedupe the candidate
    pair, Jaccard-verify on the stored hash sets."""
    a = new_rows.select(
        F.col(id_col).alias("id_n"), "band", "bucket", F.col("_h32").alias("h_n")
    )
    b = index_rows.select(
        F.col(id_col).alias("id_x"), "band", "bucket", F.col("_h32").alias("h_x")
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_n") != F.col("id_x"))
        .select(
            F.least("id_n", "id_x").alias("id_a"),
            F.greatest("id_n", "id_x").alias("id_b"),
            # hash sets are id-keyed; keep them aligned with the
            # normalized pair orientation
            F.when(F.col("id_n") < F.col("id_x"), F.col("h_n"))
            .otherwise(F.col("h_x"))
            .alias("h_a"),
            F.when(F.col("id_n") < F.col("id_x"), F.col("h_x"))
            .otherwise(F.col("h_n"))
            .alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect(F.col("h_a"), F.col("h_b")))
    union = F.size(F.col("h_a")) + F.size(F.col("h_b")) - inter
    return cand.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def read_index_parts(
    spark: SparkSession, index_dir: str, compact_dir: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """The accumulated signature index as its two physically distinct
    parts: ``(snapshot, deltas)`` — either may be ``None``.

    Keeping them separate is the scale point (r6 VERDICT Next #7): the
    snapshot is the CORPUS-sized side and is persisted as a table
    hash-bucketed on the (band, bucket) join key, so joining new-batch
    rows against it shuffles only the batch side — the snapshot scan
    carries its bucket partitioning into the join with ZERO Exchange.
    Unioning snapshot + deltas first (as a convenience read does)
    destroys that partitioning and re-shuffles the whole corpus every
    micro-batch.  Deltas are bounded (≤ compact_every − 1 batches) and
    cheap to shuffle.
    """
    snaps = dir_ids(compact_dir, "upto")
    upto = snaps[-1] if snaps else -1
    snapshot = None
    if upto >= 0:
        table = _snapshot_table(compact_dir, upto)
        if spark.catalog.tableExists(table):
            # through the catalog: the bucket spec feeds the planner
            snapshot = spark.table(table)
        else:
            # fresh session / foreign zone: same files, no bucket
            # metadata — correct, just unbucketed (read_latest_bucketed
            # fallback posture)
            snapshot = spark.read.parquet(os.path.join(compact_dir, f"upto={upto}"))
    delta_ids = [b for b in dir_ids(index_dir, "batch") if b > upto]
    deltas = None
    if delta_ids:
        deltas = (
            spark.read.option("basePath", index_dir)
            .parquet(*[os.path.join(index_dir, f"batch={b}") for b in delta_ids])
            .drop("batch")
        )
    return snapshot, deltas


def read_index(
    spark: SparkSession, index_dir: str, compact_dir: str
) -> DataFrame | None:
    """The accumulated signature index: newest snapshot plus the delta
    dirs written after it.  Bounded read — at most one snapshot and
    ``compact_every − 1`` deltas exist at any time.  Returns ``None``
    before the first batch.  (Convenience union — the incremental join
    path uses :func:`read_index_parts` to keep the snapshot's bucket
    partitioning.)"""
    snapshot, deltas = read_index_parts(spark, index_dir, compact_dir)
    if snapshot is None:
        return deltas
    if deltas is None:
        return snapshot
    return snapshot.unionByName(deltas.select(*snapshot.columns))


def compact_index_zone(
    spark: SparkSession,
    index_dir: str,
    compact_dir: str,
    batch_id: int,
    snapshot_buckets: int = SNAPSHOT_BUCKETS,
) -> None:
    """Fold snapshot + all deltas ≤ ``batch_id`` (including the one
    just written) into a new snapshot, THEN drop what it supersedes
    (``ledger.prune``).  A crash-replay finds the snapshot already
    written and only prunes.  The snapshot is an EXTERNAL table
    hash-bucketed (and bucket-sorted) on the (band, bucket) join key:
    one shuffle here, at compaction, buys an exchange-free corpus side
    on every subsequent micro-batch join
    (``PipelineZones.write_bucketed`` posture applied to the hottest
    join in the repo).

    Schema-generic on purpose: any index tier whose rows carry
    (band, bucket) — MinHash signatures, Hamming perceptual hashes —
    shares this lifecycle verbatim (the catalog name's ``minhash_``
    prefix is legacy-shared; uniqueness comes from the zone-path md5).
    """
    path = os.path.join(compact_dir, f"upto={batch_id}")
    table = _snapshot_table(compact_dir, batch_id)
    if not os.path.isdir(path):  # a replay finds it written: only prune
        # written to ``.tmp`` and renamed into place (``ledger.compact``'s
        # rule), and only then catalogued: a crash mid-write leaves a
        # directory no reader counts, and the table never names it
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        full = read_index(spark, index_dir, compact_dir)
        (
            full.write.mode("overwrite")
            .bucketBy(snapshot_buckets, "band", "bucket")
            .sortBy("band", "bucket")
            .format("parquet")
            .option("path", tmp)
            .saveAsTable(table)
        )
        spark.sql(f"DROP TABLE {table}")  # external: the files stay
        os.rename(tmp, path)
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in full.schema)
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet"
            " CLUSTERED BY (band, bucket) SORTED BY (band, bucket)"
            f" INTO {snapshot_buckets} BUCKETS LOCATION '{path}'"
        )
    for u in dir_ids(compact_dir, "upto"):
        if u < batch_id:
            spark.sql(f"DROP TABLE IF EXISTS {_snapshot_table(compact_dir, u)}")
    prune(index_dir, compact_dir, batch_id)


def stream_near_dup_index(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    compact_every: int | None = 8,
    snapshot_buckets: int = SNAPSHOT_BUCKETS,
):
    """Start the incremental near-dup maintenance query over a document
    stream.  Returns ``(query, index_dir, pairs_dir)``.

    Each micro-batch emits the verified near-dup pairs it introduces
    (within-batch + batch-vs-accumulated-corpus) under
    ``pairs_dir/batch=<id>`` and appends its signatures under
    ``index_dir/batch=<id>/band=<b>`` — both idempotent overwrites
    keyed by the checkpoint's monotonic batch id.  Every
    ``compact_every`` batches the index is folded into one snapshot
    (``compact_every=None`` disables compaction — deltas then
    accumulate unboundedly, only sensible for short-lived tests).
    """
    index_dir = os.path.join(zone_dir, INDEX_SUBDIR)
    compact_dir = os.path.join(zone_dir, COMPACT_SUBDIR)
    pairs_dir = os.path.join(zone_dir, PAIRS_SUBDIR)
    spark = df.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new_rows = _index_frame(
            batch_df, text_col, id_col, shingle_k, n_hashes, bands
        ).localCheckpoint()  # several consumers below; compute once

        # within-batch pairs + batch-vs-corpus pairs.  The corpus side
        # is probed as TWO separate joins (read_index_parts): the
        # bucketed snapshot joins exchange-free on (band, bucket) —
        # only the batch side shuffles — and the bounded deltas join
        # normally.  One unioned corpus frame would lose the
        # snapshot's bucket partitioning and re-shuffle the whole
        # corpus every micro-batch.
        pairs = _verified_pairs(new_rows, new_rows, id_col, jaccard_threshold)
        snapshot, deltas = read_index_parts(spark, index_dir, compact_dir)
        for existing in (snapshot, deltas):
            if existing is not None:
                pairs = pairs.unionByName(
                    _verified_pairs(new_rows, existing, id_col, jaccard_threshold)
                )
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={batch_id}")
        )
        new_rows.write.partitionBy("band").mode("overwrite").parquet(
            os.path.join(index_dir, f"batch={batch_id}")
        )

        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_index_zone(
                spark, index_dir, compact_dir, batch_id, snapshot_buckets
            )

    return start_stream(df, handle, checkpoint), index_dir, pairs_dir


def read_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All near-dup pairs emitted so far (pair emission is exactly-once
    across batches, so this is a plain union read)."""
    return spark.read.parquet(pairs_dir).drop("batch")


def probe_index(
    new_df: DataFrame,
    zone_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """One-shot BATCH probe of the accumulated index: verified near-dup
    matches of ``new_df`` against everything the index has seen —
    ``(new_id, index_id, jaccard)`` — WITHOUT appending, so the index
    is unchanged (the read-only twin of the per-batch join inside
    :func:`stream_near_dup_index`; use it for "is this candidate shard
    already in the corpus" checks between ingest windows).

    Cost ∝ the probe: the new side is shingle-hashed once, and the
    corpus side is probed as two separate joins (``read_index_parts``)
    so the bucketed snapshot joins exchange-free on (band, bucket) —
    only the probe rows shuffle, exactly the stream path's plan.
    Banding/hash parameters MUST match the maintaining stream's (they
    define the signature space; a mismatch silently probes disjoint
    buckets — same contract as the stored-index loaders).
    """
    spark = new_df.sparkSession
    index_dir = os.path.join(zone_dir, INDEX_SUBDIR)
    compact_dir = os.path.join(zone_dir, COMPACT_SUBDIR)
    new_rows = _index_frame(
        new_df, text_col, id_col, shingle_k, n_hashes, bands
    ).localCheckpoint()  # probed against snapshot AND deltas below
    snapshot, deltas = read_index_parts(spark, index_dir, compact_dir)
    empty = new_rows.select(
        F.col(id_col).alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.lit(0.0).alias("jaccard"),
    ).limit(0)
    pairs = empty
    for existing in (snapshot, deltas):
        if existing is not None:
            # keep the probe orientation: id_a = new doc, id_b = index
            a = new_rows.select(
                F.col(id_col).alias("id_n"), "band", "bucket",
                F.col("_h32").alias("h_n"),
            )
            b = existing.select(
                F.col(id_col).alias("id_x"), "band", "bucket",
                F.col("_h32").alias("h_x"),
            )
            cand = (
                a.join(b, ["band", "bucket"])
                .filter(F.col("id_n") != F.col("id_x"))
                .select(
                    F.col("id_n").alias("id_a"),
                    F.col("id_x").alias("id_b"),
                    F.col("h_n").alias("h_a"),
                    F.col("h_x").alias("h_b"),
                )
                .dropDuplicates(["id_a", "id_b"])
            )
            inter = F.size(F.array_intersect(F.col("h_a"), F.col("h_b")))
            union = F.size(F.col("h_a")) + F.size(F.col("h_b")) - inter
            verified = cand.select(
                "id_a",
                "id_b",
                F.round(inter.cast("double") / union, 6).alias("jaccard"),
            ).filter(F.col("jaccard") >= jaccard_threshold)
            pairs = pairs.unionByName(verified)
    return pairs.dropDuplicates(["id_a", "id_b"]).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("index_id"),
        "jaccard",
    )


def filter_against_index(
    new_df: DataFrame,
    zone_dir: str,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Drop incoming documents that near-duplicate anything the index
    has seen (the persistent-index twin of
    ``operators.dedup.filter_against_reference`` — same anti-join
    shape, but the reference side is the maintained zone instead of a
    recomputed corpus pass).  Survivors keep their full rows; the
    anti-join shuffles only id keys against the matched set."""
    matches = probe_index(new_df, zone_dir, id_col=id_col, **kw)
    return new_df.join(
        matches.select(F.col("new_id").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )
