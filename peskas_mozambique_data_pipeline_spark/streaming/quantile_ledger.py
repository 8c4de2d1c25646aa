"""Streaming quantile ledger: incremental HDR histogram buckets as
zone state — the percentile dashboard ("p50/p95/p99 of document size /
trip duration / fetch latency, per group, since forever") from
kilobytes of state.

The batch sketch (``operators/sketches.py::hdr_histogram``) has
VALUE-INDEPENDENT bucket boundaries, so per-batch bucket counts are a
SUM MONOID exactly like the CMS frequency ledger's cells — this module
is that ledger's quantile sibling, on the same shared crash algebra
(``streaming/ledger.py``): a batch can never count twice.  State per
delta is ≤ 64·2^sub_bits rows per group — bounded by the sketch
geometry, never by stream size — and the ledger is engine-readable
(the bucket arithmetic is length(bin)/shift integer work,
DuckDB-replayable; see ``tests/test_sketches.py::test_hdr_buckets_replay_in_duckdb``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import HDR_SUB_BITS, hdr_histogram, hdr_quantiles
from .ledger import read_monoid_ledger, stream_monoid_ledger

HIST_SUBDIR = "hdr_hist"
HIST_COMPACT_SUBDIR = "hdr_hist_compacted"


def _fold(parts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return parts.groupBy(*group_cols, "bucket", "lo").agg(F.sum("n").alias("n"))


def read_histogram(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current bucket table — SUM-folded over snapshot +
    deltas, identical to ``hdr_histogram`` over everything the stream
    has carried (the monoid parity pytest pins)."""
    return read_monoid_ledger(
        spark, zone_dir, HIST_SUBDIR, HIST_COMPACT_SUBDIR,
        lambda parts: _fold(parts, group_cols),
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
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, hist_dir)``: one
    bucket delta per micro-batch, a SUM-folded snapshot every
    ``compact_every`` batches."""
    g = list(group_cols)
    return stream_monoid_ledger(
        df, zone_dir, checkpoint, HIST_SUBDIR, HIST_COMPACT_SUBDIR,
        lambda batch_df: hdr_histogram(batch_df, value_col, g, sub_bits=sub_bits),
        lambda parts: _fold(parts, g),
        compact_every,
    )
