"""Streaming distinct-count ledger: incremental HyperLogLog registers
as zone state.

The batch sketch (``operators/sketches.py::hll_registers``) reduces a
corpus to ≤ m rows per group of (register j, max rank r).  Registers
are a MAX-semilattice — merging per-batch register tables with
``MAX(r)`` per (group, j) equals the register table of the unioned
inputs EXACTLY — so the streaming tier needs no state store at all:

* ``hll_regs/batch=<id>`` — this micro-batch's register delta;
* ``hll_regs_compacted/upto=<id>`` — folded snapshot of older deltas.

A replayed batch recomputes the identical delta and overwrites its own
``batch=<id>`` dir (keyed-overwrite idempotency, the
``stream_near_dup_index`` argument); the fold covers batches
≤ current − 1 only and writes before it deletes, so a crash between
fold and delete re-reads a superset and folds to the same snapshot.
State size is ≤ m rows per group per delta — bounded by group
cardinality, never corpus size — and the all-time distinct estimate is
readable AT ANY TIME by any engine (the registers are md5 + integer
arithmetic, the ``sketches.py`` exactness contract).

Why this tier exists: "how many distinct users/urls/shingles has this
stream carried, per group, since forever" is the standing governance
tile every ingest dashboard wants; exact distinct over an unbounded
stream needs unbounded state, while this ledger answers with ~6.5 %
error (m=256) from kilobytes, survives restarts, and its stream ≡
batch parity is BIT-exact (pytest-pinned), not approximate-vs-
approximate.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.sketches import hll_estimate, hll_registers
from .dedup_index import _dir_ids

REG_SUBDIR = "hll_regs"
REG_COMPACT_SUBDIR = "hll_regs_compacted"


def _read_parts(
    spark: SparkSession,
    part_dir: str,
    compact_dir: str,
    upto: int | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """All live rows of a compacting ledger, unfolded: the newest
    ``upto=<id>`` snapshot plus the ``batch=<b>`` deltas AFTER it
    (optionally only batches ≤ ``upto``).

    Skipping deltas ≤ the snapshot id is what keeps a SUM monoid
    double-count-free: a crash between the snapshot write and the
    delete, or a replayed batch, leaves deltas the snapshot already
    covers, and they are never read again.

    Snapshot and deltas share one schema (the fold keeps the delta's
    columns and types; pytest-pinned per ledger), so the parts are read
    as ONE multi-path parquet scan: one file listing and at most one
    schema-inference job, however many parts are live.  A caller that
    just wrote a delta passes its ``schema`` and the read infers
    nothing."""
    snaps = _dir_ids(compact_dir, "upto")
    snap_id = snaps[-1] if snaps else None
    paths = [] if snap_id is None else [os.path.join(compact_dir, f"upto={snap_id}")]
    paths += [
        os.path.join(part_dir, f"batch={b}")
        for b in _dir_ids(part_dir, "batch")
        if (snap_id is None or b > snap_id) and (upto is None or b <= upto)
    ]
    if not paths:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def read_registers(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current register table — MAX-folded over snapshot +
    deltas, identical to ``hll_registers`` over everything the stream
    has carried (the semilattice parity pytest pins)."""
    parts = _read_parts(
        spark,
        os.path.join(zone_dir, REG_SUBDIR),
        os.path.join(zone_dir, REG_COMPACT_SUBDIR),
    )
    if parts is None:
        return None
    return parts.groupBy(*group_cols, "j").agg(F.max("r").alias("r"))


def ledger_estimate(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """Per-group all-time distinct estimate from the ledger."""
    regs = read_registers(spark, zone_dir, group_cols)
    if regs is None:
        return None
    return hll_estimate(regs, group_cols)


def stream_distinct_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    salt: str = "hll",
    available_now: bool = True,
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, reg_dir)``.

    Each micro-batch writes its own ≤ m-rows-per-group register delta
    under ``batch=<id>``; every ``compact_every`` batches the deltas
    ≤ current − 1 fold into an ``upto=<id>`` snapshot (MAX per
    (group, j)) and the superseded dirs are deleted — write-before-
    delete, so the fold is crash-safe and the live view is always
    snapshot + bounded deltas.
    """
    reg_dir = os.path.join(zone_dir, REG_SUBDIR)
    compact_dir = os.path.join(zone_dir, REG_COMPACT_SUBDIR)
    spark = df.sparkSession
    g = list(group_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, value_col, g, salt)
        regs.write.mode("overwrite").parquet(
            os.path.join(reg_dir, f"batch={batch_id}")
        )

        if compact_every and (batch_id + 1) % compact_every == 0 and batch_id > 0:
            parts = _read_parts(
                spark, reg_dir, compact_dir, upto=batch_id - 1, schema=regs.schema
            )
            if parts is not None:
                folded = parts.groupBy(*g, "j").agg(F.max("r").alias("r"))
                folded.write.mode("overwrite").parquet(
                    os.path.join(compact_dir, f"upto={batch_id - 1}")
                )
                for b in _dir_ids(reg_dir, "batch"):
                    if b <= batch_id - 1:
                        shutil.rmtree(
                            os.path.join(reg_dir, f"batch={b}"),
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
    return writer.start(), reg_dir
