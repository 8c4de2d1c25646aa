"""Streaming release-integrity ledger: the md5 manifest fold
(``io/parquet_io.py::release_fold``) maintained incrementally as zone
state.

The batch fold reduces a corpus to one ``(n_rows, content_fp)`` pair
per group, where ``content_fp`` is the SUM of exact 60-bit md5 row
fingerprints.  Addition over exact integers is a commutative MONOID —
not idempotent like the HLL ledger's MAX — so correctness here rests
on the shared ledger bookkeeping (``streaming/ledger.py``), not on the
operator: nothing is ever summed twice.

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

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.parquet_io import row_fingerprint
from .ledger import read_monoid_ledger, stream_monoid_ledger

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
    folded = read_monoid_ledger(
        spark, zone_dir, FOLD_SUBDIR, FOLD_COMPACT_SUBDIR,
        lambda parts: _fold(parts, group_cols),
    )
    if folded is None:
        return None
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
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, fold_dir)``: one
    #groups-row fold delta per micro-batch, a SUM-folded snapshot every
    ``compact_every`` batches."""
    g = list(group_cols)
    return stream_monoid_ledger(
        df, zone_dir, checkpoint, FOLD_SUBDIR, FOLD_COMPACT_SUBDIR,
        lambda batch_df: _delta(batch_df, g),
        lambda parts: _fold(parts, g),
        compact_every,
    )
