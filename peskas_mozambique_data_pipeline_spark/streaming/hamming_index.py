"""Incremental perceptual-hash near-dup index — the IMAGE tier of the
persistent-dedup family.

Same zone lifecycle as the MinHash tier (``streaming/dedup_index.py``
— delta dirs ``batch=<id>/band=<b>``, bucketed ``upto=<id>``
snapshots, idempotent per-batch overwrites, shared
:func:`dedup_index.compact_index_zone`), with the image family's
matching rule swapped in:

* rows are ``(asset_id, dhash BIGINT)`` — 16 bytes per asset no
  matter how large the source images were (``multimodal.image_dhash``
  produces them from PNG blobs; any upstream decoder that lands a
  64-bit perceptual hash feeds the same index);
* banding is the PIGEONHOLE split (``multimodal._hash_bands`` — with
  ``n_bands = max_hamming + 1`` any pair within ``max_hamming`` bits
  matches on at least one band, so candidate recall is exactly 1.0,
  not probabilistic like MinHash LSH);
* verification is exact codegen ``bit_count(xor)`` on the stored
  hashes — no signature sets to carry, which makes index rows four
  BIGINTs and the verify side effectively free.

Scale posture mirrors the text tier: each micro-batch joins only the
buckets it collides with; the corpus-sized snapshot side is bucketed
on (band, bucket) so it joins exchange-free; deltas are bounded by the
compaction cadence; state lives in the zone, so there is no watermark
bound on how far back a duplicate image can be detected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import _hash_bands
from .dedup_index import (
    SNAPSHOT_BUCKETS,
    compact_index_zone,
    read_index_parts,
)
from .ledger import start_stream

INDEX_SUBDIR = "hamming_index"
COMPACT_SUBDIR = "hamming_index_compacted"
PAIRS_SUBDIR = "hamming_dup_pairs"


def _hash_rows(
    df: DataFrame, id_col: str, hash_col: str, n_bands: int
) -> DataFrame:
    """Long-form index rows: one ``(id, _h, band, bucket)`` row per
    (asset, band slice) — the same layout the MinHash tier stores, so
    the shared read/compact machinery applies unchanged."""
    bands = _hash_bands(hash_col, n_bands)
    return df.select(
        F.col(id_col),
        F.col(hash_col).alias("_h"),
        F.posexplode(F.array(*bands)).alias("band", "bucket"),
    )


def _verified_pairs(
    new_rows: DataFrame,
    index_rows: DataFrame,
    id_col: str,
    max_hamming: int,
    normalize: bool = True,
) -> DataFrame:
    """Hamming-verified pairs between ``new_rows`` and ``index_rows``:
    collide on (band, bucket), dedupe the candidate pair, verify with
    exact ``bit_count(xor)``.  ``normalize=True`` emits canonical
    ``id_a < id_b`` pairs (the stream path); ``normalize=False`` keeps
    the probe orientation (new, index)."""
    a = new_rows.select(
        F.col(id_col).alias("id_n"), "band", "bucket", F.col("_h").alias("h_n")
    )
    b = index_rows.select(
        F.col(id_col).alias("id_x"), "band", "bucket", F.col("_h").alias("h_x")
    )
    joined = a.join(b, ["band", "bucket"]).filter(F.col("id_n") != F.col("id_x"))
    if normalize:
        cand = joined.select(
            F.least("id_n", "id_x").alias("id_a"),
            F.greatest("id_n", "id_x").alias("id_b"),
            # hamming is symmetric — no orientation bookkeeping needed
            F.col("h_n"),
            F.col("h_x"),
        )
    else:
        cand = joined.select(
            F.col("id_n").alias("id_a"),
            F.col("id_x").alias("id_b"),
            "h_n",
            "h_x",
        )
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_n").bitwiseXOR(F.col("h_x"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def stream_hamming_index(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
    max_hamming: int = 4,
    n_bands: int | None = None,
    compact_every: int | None = 8,
    snapshot_buckets: int = SNAPSHOT_BUCKETS,
):
    """Start the incremental image near-dup maintenance query over a
    stream of ``(id, perceptual hash)`` rows.  Returns ``(query,
    index_dir, pairs_dir)``.

    Each micro-batch emits the verified duplicate pairs it introduces
    (within-batch + batch-vs-accumulated-corpus) under
    ``pairs_dir/batch=<id>`` and appends its hash rows under
    ``index_dir/batch=<id>/band=<b>`` — both idempotent overwrites
    keyed by the checkpoint's monotonic batch id; every
    ``compact_every`` batches the zone folds into one bucketed
    snapshot (the shared :func:`dedup_index.compact_index_zone`).
    Pair emission is exactly-once by construction: a (corpus, new)
    pair is emitted only in the new asset's batch.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    index_dir = os.path.join(zone_dir, INDEX_SUBDIR)
    compact_dir = os.path.join(zone_dir, COMPACT_SUBDIR)
    pairs_dir = os.path.join(zone_dir, PAIRS_SUBDIR)
    spark = df.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        new_rows = _hash_rows(
            batch_df, id_col, hash_col, n_bands
        ).localCheckpoint()  # several consumers below; compute once

        pairs = _verified_pairs(new_rows, new_rows, id_col, max_hamming)
        snapshot, deltas = read_index_parts(spark, index_dir, compact_dir)
        for existing in (snapshot, deltas):
            if existing is not None:
                pairs = pairs.unionByName(
                    _verified_pairs(new_rows, existing, id_col, max_hamming)
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


def probe_hamming_index(
    new_df: DataFrame,
    zone_dir: str,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
    max_hamming: int = 4,
    n_bands: int | None = None,
) -> DataFrame:
    """One-shot BATCH probe of the accumulated image index — verified
    matches of ``new_df`` against everything the index has seen,
    ``(new_id, index_id, hamming)`` — WITHOUT appending.  The corpus
    side is probed as two separate joins (``read_index_parts``) so the
    bucketed snapshot joins exchange-free; only the probe rows
    shuffle.  Banding parameters MUST match the maintaining stream's
    (a mismatch silently probes disjoint buckets)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    spark = new_df.sparkSession
    index_dir = os.path.join(zone_dir, INDEX_SUBDIR)
    compact_dir = os.path.join(zone_dir, COMPACT_SUBDIR)
    new_rows = _hash_rows(new_df, id_col, hash_col, n_bands).localCheckpoint()
    snapshot, deltas = read_index_parts(spark, index_dir, compact_dir)
    pairs = new_rows.select(
        F.col(id_col).alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.lit(0).cast("int").alias("hamming"),
    ).limit(0)
    for existing in (snapshot, deltas):
        if existing is not None:
            pairs = pairs.unionByName(
                _verified_pairs(
                    new_rows, existing, id_col, max_hamming, normalize=False
                )
            )
    return pairs.dropDuplicates(["id_a", "id_b"]).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("index_id"),
        "hamming",
    )


def filter_against_hamming_index(
    new_df: DataFrame,
    zone_dir: str,
    id_col: str = "asset_id",
    **kw,
) -> DataFrame:
    """Drop incoming assets whose perceptual hash near-duplicates
    anything the index has seen (the image twin of
    ``dedup_index.filter_against_index`` — anti-join on the matched id
    set, survivors keep their full rows)."""
    matches = probe_hamming_index(new_df, zone_dir, id_col=id_col, **kw)
    return new_df.join(
        matches.select(F.col("new_id").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )
