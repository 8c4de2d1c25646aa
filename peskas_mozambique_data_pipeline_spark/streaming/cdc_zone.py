"""Merge-on-read CDC zone: an ordered change stream (upserts +
deletes, globally monotonic sequence numbers — a CDC source's LSNs)
maintained incrementally on plain parquet, with the current TABLE
STATE resolvable at any time and a compaction that bounds read cost.

The lakehouse shape without a table format: change batches land as
immutable delta dirs, readers merge on read, compaction folds the
merge forward —

* each micro-batch writes its raw change rows under ``batch=<id>``
  with ``mode=overwrite`` — a replayed batch rewrites the identical
  delta over itself (idempotent by construction);
* :func:`read_cdc_state` resolves the state: per key the
  highest-``seq`` change wins, delete winners drop the key, upsert
  winners carry the payload (exactly ``operators/merge.py::
  apply_cdc`` semantics over everything the stream has carried —
  pytest-pinned against it);
* compaction folds batches ``<= current − 1`` into an ``upto=<id>``
  snapshot holding only the WINNING UPSERT rows (tombstones drop:
  sequence numbers are monotonic, so any future change to a deleted
  key out-ranks the tombstone anyway, and an absent key reads the
  same as a deleted one).  The monotonicity that makes the drop safe
  is ENFORCED at the batch boundary: each snapshot records its
  ``max_folded_seq`` high-water mark in a ``_fold_meta`` sidecar and
  every incoming batch's min seq must exceed it, else the batch is
  rejected before landing — a late lower-seq change can no longer
  resurrect a folded delete.  Snapshot and deletes follow the shared
  ledger algebra (``streaming/ledger.py``); the per-key window
  re-resolving an already-won row is a no-op.

Scale shape: deltas are change-sized; the merge-on-read window is
per-key (parallel across keys, never a global funnel) over snapshot +
post-snapshot deltas — compaction cadence bounds that working set.
The read pays the merge (that is the MOR trade); a zone read a
thousand times between changes should compact first (the snapshot
alone IS the state — the window over it finds one row per key).

Determinism: winners are (key, seq) unique by the apply_cdc contract;
the strict guard is applied at READ (a folded assert fails the
resolve on duplicate (key, seq) or unknown ops rather than silently
picking a partition-dependent winner).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .ledger import compact, compaction_due, dir_ids, read_parts, start_stream

CDC_SUBDIR = "cdc_changes"
CDC_COMPACT_SUBDIR = "cdc_compacted"
FOLD_META_DIR = "_fold_meta"


def max_folded_seq(spark: SparkSession, zone_dir: str) -> int | None:
    """Highest sequence number ever folded into a compacted snapshot
    (``None`` before the first compaction).  Stored as a one-row
    ``_fold_meta`` sidecar INSIDE the newest snapshot dir (underscore-
    prefixed, so snapshot reads ignore it), because compaction drops
    tombstones: a change with ``seq`` at or below this mark could
    resurrect an already-folded delete, so the zone refuses it at the
    batch boundary (ADVICE r13)."""
    compact_dir = os.path.join(zone_dir, CDC_COMPACT_SUBDIR)
    snaps = dir_ids(compact_dir, "upto")
    if not snaps:
        return None
    meta = os.path.join(compact_dir, f"upto={max(snaps)}", FOLD_META_DIR)
    if not os.path.isdir(meta):
        return None
    rows = spark.read.parquet(meta).collect()
    return rows[0].max_folded_seq if rows else None


def _winners(
    parts: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    upsert_op: str,
    delete_op: str,
    strict: bool,
) -> DataFrame:
    """Latest change per key across everything readable (compacted
    snapshots re-enter as plain upsert rows carrying their original
    seq, so the fold is associative and replay-safe)."""
    k = list(keys)
    w = Window.partitionBy(*k).orderBy(F.col(seq_col).desc())
    ranked = parts.withColumn("_rn", F.row_number().over(w))
    if strict:
        dup = F.count(F.lit(1)).over(Window.partitionBy(*k, seq_col))
        guard = F.assert_true(
            (dup == 1) & F.col(op_col).isin(upsert_op, delete_op),
            F.lit("cdc_zone: duplicate (key, seq) or unknown op"),
        )
        ranked = ranked.withColumn(
            "_rn", F.when(guard.isNull(), F.col("_rn"))
        )
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def check_batch_seq(
    spark: SparkSession, zone_dir: str, batch_df: DataFrame, batch_id: int,
    seq_col: str,
) -> int | None:
    """Tombstone-safety guard: compaction drops deletes on
    the promise that seq is globally monotonic ACROSS batches — enforce
    it here, where the promise can still be kept.  A late change with
    seq <= the folded high-water mark could silently resurrect an
    already-folded delete, so the batch is rejected BEFORE its delta
    lands (the aggregate is batch-sized).  Returns that mark."""
    folded = max_folded_seq(spark, zone_dir)
    if folded is not None:
        low = batch_df.agg(F.min(seq_col).alias("m")).collect()[0].m
        if low is not None and low <= folded:
            raise ValueError(
                f"cdc_zone: batch {batch_id} carries seq {low} <= "
                f"max folded seq {folded}; a compacted snapshot has "
                "dropped tombstones up to that mark, so applying "
                "this change could resurrect a deleted key. "
                "Late/out-of-order feeds must re-sequence before "
                "the zone."
            )
    return folded


def compact_cdc(
    spark: SparkSession,
    zone_dir: str,
    upto: int,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    upsert_op: str,
    delete_op: str,
    folded: int | None,
    schema: StructType,
) -> None:
    """Fold the change deltas ``<= upto`` into a winners-only snapshot
    (tombstones dropped) with its ``_fold_meta`` high-water mark;
    ``folded`` is the mark before this fold."""

    def write_snapshot(parts: DataFrame, snap: str) -> None:
        win = _winners(
            parts, keys, seq_col, op_col, upsert_op, delete_op, strict=False
        )
        win.filter(F.col(op_col) == upsert_op).write.mode("overwrite").parquet(snap)
        # high-water mark over EVERYTHING folded (tombstone seqs
        # included — they out-rank every retained upsert they
        # superseded), monotone vs the prior snapshot's mark.
        hi = parts.agg(F.max(seq_col).alias("m")).collect()[0].m
        if folded is not None:
            hi = max(hi, folded) if hi is not None else folded
        if hi is not None:
            spark.createDataFrame(
                [(int(hi),)], "max_folded_seq long"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(snap, FOLD_META_DIR)
            )

    compact(
        spark,
        os.path.join(zone_dir, CDC_SUBDIR),
        os.path.join(zone_dir, CDC_COMPACT_SUBDIR),
        upto,
        write_snapshot,
        schema,
    )


def read_cdc_state(
    spark: SparkSession,
    zone_dir: str,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    upsert_op: str = "upsert",
    delete_op: str = "delete",
    strict: bool = True,
) -> DataFrame | None:
    """The zone's current state: one row per live key, change payload
    columns only (``op``/``seq`` dropped)."""
    parts = read_parts(
        spark,
        os.path.join(zone_dir, CDC_SUBDIR),
        os.path.join(zone_dir, CDC_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    win = _winners(parts, keys, seq_col, op_col, upsert_op, delete_op, strict)
    return win.filter(F.col(op_col) == upsert_op).drop(op_col, seq_col)


def stream_cdc_zone(
    changes: DataFrame,
    zone_dir: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    upsert_op: str = "upsert",
    delete_op: str = "delete",
    compact_every: int | None = 8,
):
    """Start the CDC maintenance query over a STREAMING change frame.
    Returns ``(query, changes_dir)``.  Deltas land per micro-batch;
    every ``compact_every`` batches the readable prefix folds into a
    winners-only snapshot (tombstones dropped — module docstring)."""
    cdc_dir = os.path.join(zone_dir, CDC_SUBDIR)
    spark = changes.sparkSession
    k = list(keys)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        folded = check_batch_seq(spark, zone_dir, batch_df, batch_id, seq_col)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(cdc_dir, f"batch={batch_id}")
        )
        if compaction_due(batch_id, compact_every):
            compact_cdc(
                spark, zone_dir, batch_id - 1, k, seq_col, op_col, upsert_op,
                delete_op, folded, batch_df.schema,
            )

    return start_stream(changes, handle, checkpoint), cdc_dir
