"""Streaming data-quality ledger: the expectations report
(``operators/expectations.py::check``) maintained incrementally as
zone state — all-time per-group per-rule violation counts for an
append-only stream, readable at any time without rescanning the
corpus.

Per-rule violation counts are SUMs — a commutative monoid, not
idempotent — so correctness rides the release-ledger crash algebra
verbatim (this module imports its delta-dir bookkeeping):

* each micro-batch writes its own ``(group…, rule, n_violations,
  n_rows)`` delta under ``batch=<id>`` with ``mode=overwrite`` — a
  replayed batch recomputes the identical delta and overwrites itself
  instead of double-adding;
* compaction folds batches ``<= current − 1`` into an ``upto=<id>``
  snapshot, writes BEFORE deleting, and reads skip deltas
  ``<= snapshot id`` — nothing is ever summed twice.

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

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.expectations import Rule, check
from .dedup_index import _dir_ids
from .distinct_ledger import _read_parts

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
    parts = _read_parts(
        spark,
        os.path.join(zone_dir, DQ_SUBDIR),
        os.path.join(zone_dir, DQ_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    folded = _fold(parts, group_cols)
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
    available_now: bool = True,
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, dq_dir)``.  Delta
    per micro-batch, write-before-delete compaction every
    ``compact_every`` batches (module docstring)."""
    dq_dir = os.path.join(zone_dir, DQ_SUBDIR)
    compact_dir = os.path.join(zone_dir, DQ_COMPACT_SUBDIR)
    spark = df.sparkSession
    g = list(group_cols)
    rules = list(rules)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        delta = _delta(batch_df, rules, g)
        delta.write.mode("overwrite").parquet(
            os.path.join(dq_dir, f"batch={batch_id}")
        )

        if compact_every and (batch_id + 1) % compact_every == 0 and batch_id > 0:
            parts = _read_parts(
                spark, dq_dir, compact_dir, upto=batch_id - 1, schema=delta.schema
            )
            if parts is not None:
                _fold(parts, g).write.mode("overwrite").parquet(
                    os.path.join(compact_dir, f"upto={batch_id - 1}")
                )
                for b in _dir_ids(dq_dir, "batch"):
                    if b <= batch_id - 1:
                        shutil.rmtree(
                            os.path.join(dq_dir, f"batch={b}"),
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
    return writer.start(), dq_dir
