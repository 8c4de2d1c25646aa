"""Streaming data-quality ledger: the expectations report
(``operators/expectations.py::check``) maintained incrementally as
zone state — all-time per-group per-rule violation counts for an
append-only stream, readable at any time without rescanning the
corpus.

Per-rule violation counts are SUMs — a commutative monoid, not
idempotent — so correctness rests on the shared ledger bookkeeping
(``streaming/ledger.py``): a batch is never counted twice.

State per delta is #groups × #rules rows — rule-battery sized, never
corpus sized.  ``read_dq_ledger`` returns exactly what batch
``check(all_rows_ever, rules, group_cols)`` would (stream ≡ batch
pytest-pinned bit-exactly), including the round(·,6) violation
fraction recomputed from the folded integers at read time — fractions
never fold (a fraction of sums is not a sum of fractions).

Use: the standing quality dashboard over a landing stream ("null rate
per source, all time"), and the drift tripwire — compare the fold
before and after a batch lands to alarm on a quality regression
without any historical rescan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.expectations import Rule, check
from .ledger import read_monoid_ledger, stream_monoid_ledger

DQ_SUBDIR = "dq_counts"
DQ_COMPACT_SUBDIR = "dq_counts_compacted"


def _delta(
    df: DataFrame, rules: Sequence[Rule], group_cols: Sequence[str]
) -> DataFrame:
    return check(df, rules, group_cols).select(
        *group_cols, "rule", "n_violations", "n_rows"
    )


def _fold(parts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return parts.groupBy(*group_cols, "rule").agg(
        F.sum("n_violations").cast("long").alias("n_violations"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )


def read_dq_ledger(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The all-time report: ``(group…, rule, n_violations, n_rows,
    frac)`` ≡ batch ``check`` over everything the stream has carried."""
    folded = read_monoid_ledger(
        spark, zone_dir, DQ_SUBDIR, DQ_COMPACT_SUBDIR,
        lambda parts: _fold(parts, group_cols),
    )
    if folded is None:
        return None
    return folded.withColumn(
        "frac",
        F.when(
            F.col("n_rows") > 0,
            F.round(F.col("n_violations") / F.col("n_rows"), 6),
        ).otherwise(F.lit(0.0)),
    )


def stream_dq_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    rules: Sequence[Rule],
    group_cols: Sequence[str] = (),
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, dq_dir)``: one delta
    per micro-batch, a SUM-folded snapshot every ``compact_every``
    batches."""
    g = list(group_cols)
    rules = list(rules)
    return stream_monoid_ledger(
        df, zone_dir, checkpoint, DQ_SUBDIR, DQ_COMPACT_SUBDIR,
        lambda batch_df: _delta(batch_df, rules, g),
        lambda parts: _fold(parts, g),
        compact_every,
    )
