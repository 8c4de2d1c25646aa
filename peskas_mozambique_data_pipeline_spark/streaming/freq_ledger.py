"""Streaming frequency ledger: incremental count-min cells + a lossy
heavy-hitter candidate log as zone state.

The batch sketch (``operators/sketches.py::cms_sketch``) reduces a
corpus to d·w cell counts per group.  Cell counts are a SUM MONOID —
adding per-batch cell deltas per (group, i, cell) equals the sketch of
the unioned inputs EXACTLY — so, like the release ledger
(``release_ledger.py``) and unlike the MAX-semilattice HLL ledger,
correctness rests on never counting a batch twice — the shared ledger
bookkeeping (``streaming/ledger.py``):

* ``cms_cells/batch=<id>`` — this micro-batch's cell delta;
* ``cms_cells_compacted/upto=<id>`` — SUM-folded snapshot of batches
  ≤ id;
* ``hh_cands/batch=<id>`` — the batch's top-``t`` values by exact
  in-batch count (ties broken by value — deterministic), the
  candidate half of the classic CMS heavy-hitter scheme.

``heavy_hitters`` estimates every logged candidate against the folded
sketch and returns the top-k.  Guarantees, stated honestly: the CMS
estimate NEVER undercounts (one-sided error), so a reported count is
an upper bound that is tight for genuinely heavy values; the candidate
log is LOSSY — a value that is never inside any single batch's top-t
cannot surface, so ``t`` bounds the per-batch state while trading away
uniformly-spread moderate hitters (the per-batch analog of
SpaceSaving's deterministic miss class).  State per batch is
d·w + t rows per group — bounded by geometry, never by stream size.

Why this tier exists: "which urls/domains/users dominate this stream,
per group, since forever" is the standing skew-and-abuse governance
tile; exact all-time frequencies over an unbounded stream need
unbounded state, while this ledger answers from kilobytes, survives
restarts, and its stream ≡ batch cell parity is BIT-exact
(pytest-pinned).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import cms_lookup, cms_sketch
from .ledger import (
    compact,
    compaction_due,
    dir_ids,
    read_monoid_ledger,
    start_stream,
)

CELLS_SUBDIR = "cms_cells"
CELLS_COMPACT_SUBDIR = "cms_cells_compacted"
CANDS_SUBDIR = "hh_cands"


def _fold(parts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return parts.groupBy(*group_cols, "i", "cell").agg(F.sum("n").alias("n"))


def read_cells(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current cell table — SUM-folded over snapshot +
    deltas, identical to ``cms_sketch`` over everything the stream has
    carried (the monoid parity pytest pins)."""
    return read_monoid_ledger(
        spark, zone_dir, CELLS_SUBDIR, CELLS_COMPACT_SUBDIR,
        lambda parts: _fold(parts, group_cols),
    )


def ledger_lookup(
    spark: SparkSession,
    zone_dir: str,
    values: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame | None:
    """All-time frequency estimates for ``values`` from the ledger."""
    cells = read_cells(spark, zone_dir, group_cols)
    if cells is None:
        return None
    return cms_lookup(
        cells, values, value_col, depth, salt, group_cols=group_cols
    )


def heavy_hitters(
    spark: SparkSession,
    zone_dir: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    top_k: int = 10,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame | None:
    """Top-``top_k`` values per group by estimated all-time count:
    distinct logged candidates probed against the folded sketch,
    ranked by (estimate DESC, value) — deterministic under any
    partitioning.  Estimates never undercount; candidacy is lossy
    (module docstring).

    Scale shape: the ranked input is the CANDIDATE set (≤ t per batch
    per group), never the corpus.  Grouped ranking is a per-group
    window (parallel across groups); ungrouped ranking is
    orderBy+limit — Spark compiles it to a distributed
    TakeOrderedAndProject, never a one-task global window."""
    from pyspark.sql import Window

    cands_dir = os.path.join(zone_dir, CANDS_SUBDIR)
    ids = dir_ids(cands_dir, "batch")
    if not ids:
        return None
    cands = spark.read.parquet(
        *[os.path.join(cands_dir, f"batch={b}") for b in ids]
    ).select(*group_cols, value_col).distinct()
    est = ledger_lookup(
        spark, zone_dir, cands, value_col, group_cols, depth, salt
    )
    order = [F.col("cms_count").desc(), F.col(value_col)]
    if group_cols:
        # per-group ranking parallelizes across groups
        w = Window.partitionBy(*group_cols).orderBy(*order)
        return (
            est.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
        )
    # ungrouped: orderBy+limit compiles to a distributed
    # TakeOrderedAndProject — never a one-task global window
    return est.orderBy(*order).limit(top_k)


def stream_freq_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    salt: str = "cms",
    cand_t: int = 16,
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, cells_dir)``.

    Each micro-batch writes its cell delta and its top-``cand_t``
    exact in-batch values under the candidate log; every
    ``compact_every`` batches the cell deltas SUM-fold into a snapshot
    (``streaming/ledger.py``).
    """
    from pyspark.sql import Window

    cells_dir = os.path.join(zone_dir, CELLS_SUBDIR)
    compact_dir = os.path.join(zone_dir, CELLS_COMPACT_SUBDIR)
    cands_dir = os.path.join(zone_dir, CANDS_SUBDIR)
    spark = df.sparkSession
    g = list(group_cols)

    def write_snapshot(parts: DataFrame, path: str) -> None:
        _fold(parts, g).write.mode("overwrite").parquet(path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = cms_sketch(
            batch_df, value_col, depth=depth, salt=salt, group_cols=g
        )
        cells.write.mode("overwrite").parquet(
            os.path.join(cells_dir, f"batch={batch_id}")
        )
        counts = batch_df.groupBy(*g, value_col).agg(
            F.count(F.lit(1)).alias("_n")
        )
        order = [F.col("_n").desc(), F.col(value_col)]
        if g:
            w = Window.partitionBy(*g).orderBy(*order)
            top = (
                counts.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= cand_t)
                .select(*g, value_col)
            )
        else:
            # distributed TakeOrderedAndProject, not a one-task window
            top = counts.orderBy(*order).limit(cand_t).select(value_col)
        top.write.mode("overwrite").parquet(
            os.path.join(cands_dir, f"batch={batch_id}")
        )

        if compaction_due(batch_id, compact_every):
            compact(
                spark, cells_dir, compact_dir, batch_id - 1, write_snapshot,
                cells.schema,
            )

    return start_stream(df, handle, checkpoint), cells_dir
