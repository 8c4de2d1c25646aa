"""Streaming release-integrity ledger: the md5 manifest fold
(``io/parquet_io.py::release_fold``) maintained incrementally as zone
state.

The batch fold reduces a corpus to one ``(n_rows, content_fp)`` pair
per group, where ``content_fp`` is the SUM of exact 60-bit md5 row
fingerprints.  Addition over exact integers is a commutative MONOID —
not idempotent like the HLL ledger's MAX — so correctness here rests
on the delta-dir bookkeeping, not on the operator:

* each micro-batch writes its own per-group delta under
  ``batch=<id>`` with ``mode=overwrite`` — a REPLAYED batch recomputes
  the identical delta and overwrites itself instead of double-adding;
* the compaction fold covers batches ``<= current − 1`` only, writes
  the ``upto=<id>`` snapshot BEFORE deleting the folded deltas, and
  every read skips deltas ``<= snapshot id`` — so a crash between
  snapshot write and delta delete re-reads snapshot + post-snapshot
  deltas only: nothing is ever summed twice.

State is #groups rows per delta — bounded by group cardinality, never
corpus size — and the all-time fold is readable AT ANY TIME by any
engine (md5 + integer sums: DuckDB replays the whole ledger digit for
digit, the ``release_fold`` exactness contract).  Why this tier
exists: a release manifest for an APPEND-ONLY stream shouldn't require
rescanning the corpus per release; this ledger makes "fingerprint
everything this stream has ever carried, per source" a kilobyte read,
and its stream ≡ batch parity is BIT-exact (pytest-pinned).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.parquet_io import row_fingerprint
from .dedup_index import _dir_ids
from .distinct_ledger import _read_parts

FOLD_SUBDIR = "release_fold"
FOLD_COMPACT_SUBDIR = "release_fold_compacted"


def _delta(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    cols = sorted(df.columns)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_fingerprint(cols, "md5"))
        .cast("decimal(38,0)")
        .alias("fp"),
    )


def _fold(parts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return parts.groupBy(*group_cols).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("fp").cast("decimal(38,0)").alias("fp"),
    )


def read_release_fold(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current fold — identical to
    ``release_fold`` over everything the stream has carried (the
    monoid parity pytest pins): ``(group…, n_rows, content_fp)`` with
    the fingerprint as the digit string any engine can recompute."""
    parts = _read_parts(
        spark,
        os.path.join(zone_dir, FOLD_SUBDIR),
        os.path.join(zone_dir, FOLD_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    folded = _fold(parts, group_cols)
    return folded.select(
        *group_cols,
        "n_rows",
        F.col("fp").cast("string").alias("content_fp"),
    )


def stream_release_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    group_cols: Sequence[str] = (),
    available_now: bool = True,
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, fold_dir)``.

    Each micro-batch writes its own #groups-row fold delta under
    ``batch=<id>``; every ``compact_every`` batches the deltas
    ``<= current − 1`` fold into an ``upto=<id>`` snapshot and the
    superseded dirs are deleted — write-before-delete with
    skip-``<=``-snapshot reads, so the SUM can never double-count (see
    module docstring)."""
    fold_dir = os.path.join(zone_dir, FOLD_SUBDIR)
    compact_dir = os.path.join(zone_dir, FOLD_COMPACT_SUBDIR)
    spark = df.sparkSession
    g = list(group_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        delta = _delta(batch_df, g)
        delta.write.mode("overwrite").parquet(
            os.path.join(fold_dir, f"batch={batch_id}")
        )

        if compact_every and (batch_id + 1) % compact_every == 0 and batch_id > 0:
            parts = _read_parts(
                spark, fold_dir, compact_dir, upto=batch_id - 1,
                schema=delta.schema,
            )
            if parts is not None:
                _fold(parts, g).write.mode("overwrite").parquet(
                    os.path.join(compact_dir, f"upto={batch_id - 1}")
                )
                for b in _dir_ids(fold_dir, "batch"):
                    if b <= batch_id - 1:
                        shutil.rmtree(
                            os.path.join(fold_dir, f"batch={b}"),
                            ignore_errors=True,
                        )
                for u in _dir_ids(compact_dir, "upto"):
                    if u < batch_id - 1:
                        shutil.rmtree(
                            os.path.join(compact_dir, f"upto={u}"),
                            ignore_errors=True,
                        )

    writer = df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), fold_dir
