"""Incrementally-maintained grouped rollup over a CDC-evolving table:
the materialized-view-maintenance shape (apply/retract deltas) on
plain parquet, sharing the CDC zone's batch-dir crash algebra.

A grouped aggregate over a keyed table that evolves via upserts and
deletes cannot be kept fresh by rescanning 100 TB of state per
micro-batch.  The standard answer (Flink retract streams, incremental
view maintenance in the materialized-view literature) is to fold only
the CHANGE's effect into the aggregate:

* per micro-batch, the batch winners (highest ``seq`` per key within
  the batch) are joined against the PRE-batch state — one delta-keyed
  join, broadcastable when the delta is small — producing two
  contribution sets: the OLD payload of every touched key (weight −1)
  and the NEW payload of every upsert winner (weight +1);
* contributions aggregate to one delta row per touched GROUP
  (``n_rows`` plus a sum per measure) and land under
  ``rollup_deltas/batch=<id>`` — idempotent overwrite, the ledger
  discipline;
* :func:`read_rollup` sum-folds snapshot + deltas (a pure sum monoid:
  associative, commutative, restart-safe) and drops groups whose
  ``n_rows`` reached zero;
* compaction folds deltas ``<= id`` into a ``upto=<id>`` snapshot
  (the shared ledger algebra, ``streaming/ledger.py``) and drops
  zeroed groups — exact because of the type rule below.

Determinism / exactness contract: measure columns must be integral
(or decimal) — a retraction fold over IEEE doubles drifts (x + y − y
≠ x in general), silently corrupting the rollup, so float measures
raise at declaration time.  Put money in cents (the registry's
``cents`` convention) and the fold is exact forever.

Replay safety: the pre-batch state is resolved with
``upto = batch_id − 1``, so a replayed batch (crash between the
rollup-delta write and the CDC-delta write, or after both) recomputes
its delta against the SAME pre-batch state and overwrites the same
dirs — bit-identical, idempotent.  The CDC zone's folded
high-water-mark guard (``cdc_zone.max_folded_seq``) runs here too:
compaction drops tombstones, so late low-seq changes are rejected at
the batch boundary.

Scale shape: state is never rescanned — the per-batch cost is one
MOR winner-window over snapshot + post-snapshot deltas RESTRICTED to
the batch's keys (semi-join pushes the key filter into the state
read), one batch-keyed join, and a group-sized aggregate.  The rollup
state itself is group-cardinality-sized, orders of magnitude below
row count.

Built from public patterns: Debezium/Delta CDC apply semantics,
Flink's retract-stream aggregation, and the classic incremental
view-maintenance delta rules (counting algorithm).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cdc_zone import (
    CDC_COMPACT_SUBDIR,
    CDC_SUBDIR,
    _winners,
    check_batch_seq,
    compact_cdc,
)
from .ledger import compact, compaction_due, read_parts, start_stream

ROLLUP_SUBDIR = "rollup_deltas"
ROLLUP_COMPACT_SUBDIR = "rollup_compacted"

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)


def _check_measures(df: DataFrame, sum_cols: Sequence[str]) -> None:
    for c in sum_cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, _INTEGRAL):
            raise TypeError(
                f"rollup measure '{c}' has type {dt.simpleString()}: "
                "retraction folds require integral/decimal measures "
                "(IEEE float retraction drifts — store cents, not "
                "dollars)"
            )


def _contribution_delta(
    old: DataFrame,
    new: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """(old, −1) ∪ (new, +1) → one row per touched group with the
    net count/sum movement.  Sums promote to long/decimal natively."""
    g = list(group_cols)

    def tag(df: DataFrame, w: int) -> DataFrame:
        return df.select(
            *g,
            F.lit(w).cast("long").alias("_w"),
            *[(F.col(c) * w).alias(c) for c in sum_cols],
        )

    both = tag(old, -1).unionByName(tag(new, +1))
    return both.groupBy(*g).agg(
        F.sum("_w").alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
    )


def read_rollup(
    spark: SparkSession,
    zone_dir: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame | None:
    """Current grouped rollup: sum-fold of snapshot + delta dirs,
    zero-count groups dropped (a fully-retracted group reads the same
    as one never seen)."""
    parts = read_parts(
        spark,
        os.path.join(zone_dir, ROLLUP_SUBDIR),
        os.path.join(zone_dir, ROLLUP_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    g = list(group_cols)
    out = parts.groupBy(*g).agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )
    return out.filter(F.col("n_rows") > 0)


def compact_rollup(spark: SparkSession, zone_dir: str, upto: int) -> None:
    """Fold rollup deltas ``<= upto`` into a snapshot (zeroed groups
    dropped — exact under the integral-measure contract)."""

    def write_snapshot(parts: DataFrame, path: str) -> None:
        g = [c for c in parts.columns if c != "n_rows" and not c.startswith("sum_")]
        sums = [c for c in parts.columns if c.startswith("sum_")]
        (
            parts.groupBy(*g)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(c).alias(c) for c in sums],
            )
            .filter(F.col("n_rows") != 0)
            .write.mode("overwrite")
            .parquet(path)
        )

    compact(
        spark,
        os.path.join(zone_dir, ROLLUP_SUBDIR),
        os.path.join(zone_dir, ROLLUP_COMPACT_SUBDIR),
        upto,
        write_snapshot,
    )


def stream_rollup_zone(
    changes: DataFrame,
    zone_dir: str,
    checkpoint: str,
    keys: Sequence[str],
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    upsert_op: str = "upsert",
    delete_op: str = "delete",
    compact_every: int | None = 8,
):
    """Maintain a CDC zone AND its incrementally-folded grouped rollup
    from one streaming change frame.  Returns ``(query, zone_dir)``.

    Per batch: winners resolve within the batch, old payloads come
    from the pre-batch state (``upto = batch_id − 1`` — replay-safe),
    the net group delta lands under ``rollup_deltas/batch=<id>``, then
    the raw changes land under ``cdc_changes/batch=<id>`` (this order
    makes the state read correct on replay; both writes are
    idempotent overwrites).  Every ``compact_every`` batches both the
    CDC prefix (``cdc_zone.compact_cdc``) and the rollup prefix fold,
    each into its own snapshot."""
    _check_measures(changes, sum_cols)
    cdc_dir = os.path.join(zone_dir, CDC_SUBDIR)
    cdc_compact_dir = os.path.join(zone_dir, CDC_COMPACT_SUBDIR)
    roll_dir = os.path.join(zone_dir, ROLLUP_SUBDIR)
    spark = changes.sparkSession
    k = list(keys)
    g = list(group_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        folded = check_batch_seq(spark, zone_dir, batch_df, batch_id, seq_col)

        winners = _winners(
            batch_df, k, seq_col, op_col, upsert_op, delete_op, strict=True
        )
        payload = [
            c for c in batch_df.columns if c not in (seq_col, op_col)
        ]
        new = winners.filter(F.col(op_col) == upsert_op).select(*payload)

        state = read_parts(
            spark, cdc_dir, cdc_compact_dir, upto=batch_id - 1,
            schema=batch_df.schema,
        )
        if state is None:
            old = new.limit(0)
        else:
            touched = winners.select(*k)
            live = _winners(
                # key-filter the state BEFORE the winner window: the
                # MOR cost is delta-keyed, never state-sized
                state.join(touched, k, "left_semi"),
                k, seq_col, op_col, upsert_op, delete_op, strict=False,
            )
            old = live.filter(F.col(op_col) == upsert_op).select(*payload)

        delta = _contribution_delta(old, new, g, sum_cols)
        delta.write.mode("overwrite").parquet(
            os.path.join(roll_dir, f"batch={batch_id}")
        )
        batch_df.write.mode("overwrite").parquet(
            os.path.join(cdc_dir, f"batch={batch_id}")
        )

        if compaction_due(batch_id, compact_every):
            compact_cdc(
                spark, zone_dir, batch_id - 1, k, seq_col, op_col, upsert_op,
                delete_op, folded, batch_df.schema,
            )
            compact_rollup(spark, zone_dir, batch_id - 1)

    return start_stream(changes, handle, checkpoint), zone_dir
