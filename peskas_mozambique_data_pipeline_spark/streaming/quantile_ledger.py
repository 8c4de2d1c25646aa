"""Streaming quantile ledger: incremental HDR histogram buckets as
zone state — the percentile dashboard ("p50/p95/p99 of document size /
trip duration / fetch latency, per group, since forever") from
kilobytes of state.

The batch sketch (``operators/sketches.py::hdr_histogram``) has
VALUE-INDEPENDENT bucket boundaries, so per-batch bucket counts are a
SUM MONOID exactly like the CMS frequency ledger's cells — this module
is that ledger's quantile sibling and reuses its crash algebra
verbatim (keyed-overwrite ``batch=<id>`` deltas derived from the batch
alone, reads that skip deltas ≤ the newest snapshot, write-before-
delete folds: a batch can never count twice).  State per delta is
≤ 64·2^sub_bits rows per group — bounded by the sketch geometry, never
by stream size — and the ledger is engine-readable (the bucket
arithmetic is length(bin)/shift integer work, DuckDB-replayable; see
``tests/test_sketches.py::test_hdr_buckets_replay_in_duckdb``).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import HDR_SUB_BITS, hdr_histogram, hdr_quantiles
from .dedup_index import _dir_ids
from .distinct_ledger import _read_parts

HIST_SUBDIR = "hdr_hist"
HIST_COMPACT_SUBDIR = "hdr_hist_compacted"


def read_histogram(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current bucket table — SUM-folded over snapshot +
    deltas, identical to ``hdr_histogram`` over everything the stream
    has carried (the monoid parity pytest pins)."""
    parts = _read_parts(
        spark,
        os.path.join(zone_dir, HIST_SUBDIR),
        os.path.join(zone_dir, HIST_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    return parts.groupBy(*group_cols, "bucket", "lo").agg(
        F.sum("n").alias("n")
    )


def ledger_quantiles(
    spark: SparkSession,
    zone_dir: str,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame | None:
    """All-time quantile estimates from the ledger (exact-integer
    bucket lower bounds, relative error ≤ 2^-sub_bits)."""
    hist = read_histogram(spark, zone_dir, group_cols)
    if hist is None:
        return None
    return hdr_quantiles(hist, quantiles, group_cols)


def stream_quantile_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    sub_bits: int = HDR_SUB_BITS,
    available_now: bool = True,
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, hist_dir)``.
    Identical discipline to ``stream_freq_ledger`` — see its and the
    module docstrings for the crash-safety argument."""
    hist_dir = os.path.join(zone_dir, HIST_SUBDIR)
    compact_dir = os.path.join(zone_dir, HIST_COMPACT_SUBDIR)
    spark = df.sparkSession
    g = list(group_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        hist = hdr_histogram(batch_df, value_col, g, sub_bits=sub_bits)
        hist.write.mode("overwrite").parquet(
            os.path.join(hist_dir, f"batch={batch_id}")
        )
        if compact_every and (batch_id + 1) % compact_every == 0 and batch_id > 0:
            parts = _read_parts(
                spark, hist_dir, compact_dir, upto=batch_id - 1,
                schema=hist.schema,
            )
            if parts is not None:
                folded = parts.groupBy(*g, "bucket", "lo").agg(
                    F.sum("n").alias("n")
                )
                folded.write.mode("overwrite").parquet(
                    os.path.join(compact_dir, f"upto={batch_id - 1}")
                )
                for b in _dir_ids(hist_dir, "batch"):
                    if b <= batch_id - 1:
                        shutil.rmtree(
                            os.path.join(hist_dir, f"batch={b}"),
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
    return writer.start(), hist_dir
