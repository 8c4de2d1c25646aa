"""Streaming distinct-count ledger: incremental HyperLogLog registers
as zone state.

The batch sketch (``operators/sketches.py::hll_registers``) reduces a
corpus to ≤ m rows per group of (register j, max rank r).  Registers
are a MAX-semilattice — merging per-batch register tables with
``MAX(r)`` per (group, j) equals the register table of the unioned
inputs EXACTLY — so the streaming tier needs no state store at all:

* ``hll_regs/batch=<id>`` — this micro-batch's register delta;
* ``hll_regs_compacted/upto=<id>`` — folded snapshot of older deltas.

Crash safety is the shared ledger algebra (``streaming/ledger.py``).
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

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_estimate, hll_registers
from .ledger import read_monoid_ledger, stream_monoid_ledger

REG_SUBDIR = "hll_regs"
REG_COMPACT_SUBDIR = "hll_regs_compacted"


def _fold(parts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return parts.groupBy(*group_cols, "j").agg(F.max("r").alias("r"))


def read_registers(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current register table — MAX-folded over snapshot +
    deltas, identical to ``hll_registers`` over everything the stream
    has carried (the semilattice parity pytest pins)."""
    return read_monoid_ledger(
        spark, zone_dir, REG_SUBDIR, REG_COMPACT_SUBDIR,
        lambda parts: _fold(parts, group_cols),
    )


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
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, reg_dir)``.  Each
    micro-batch writes its ≤ m-rows-per-group register delta; every
    ``compact_every`` batches the deltas MAX-fold per (group, j) into a
    snapshot (``streaming/ledger.py``)."""
    g = list(group_cols)
    return stream_monoid_ledger(
        df, zone_dir, checkpoint, REG_SUBDIR, REG_COMPACT_SUBDIR,
        lambda batch_df: hll_registers(batch_df, value_col, g, salt),
        lambda parts: _fold(parts, g),
        compact_every,
    )
