"""Streaming membership ledger: an incremental Bloom filter as zone
state — "has this stream EVER carried this url/key", per group, from
m/64 BIGINT words.

The batch sketch (``operators/sketches.py::bloom_pack``) is an
OR-SEMILATTICE (``bloom_merge``): folding per-batch packed filters
with bitwise OR equals the filter of the unioned inputs EXACTLY, so —
like the HLL distinct ledger and unlike the SUM ledgers — replay
safety is free: a batch folded twice ORs in the same bits.  The
ledger still runs on the shared zone ledger (``streaming/ledger.py``)
so state stays bounded and any engine can read it.

The 100 TB use case is the crawl frontier's seen-set and
cross-restart ingest dedup: the exact seen-set is unbounded, while
this ledger answers "maybe seen" from fixed state with NO false
negatives — a false positive merely re-fetches nothing / defers to an
exact check on the tiny maybe slice (the ``bloom_decontaminate``
two-phase argument, applied across time instead of across a corpus).
``bloom_occupancy`` over the folded filter is the saturation alarm: a
standing filter whose fpp estimate crosses the budget needs a wider
rebuild (geometry travels in the rows, so the probe asserts it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketches import (
    BLOOM_K,
    BLOOM_M,
    bloom_bits,
    bloom_merge,
    bloom_occupancy,
    bloom_pack,
    bloom_probe,
)
from .ledger import read_monoid_ledger, stream_monoid_ledger

BLOOM_SUBDIR = "bloom_packs"
BLOOM_COMPACT_SUBDIR = "bloom_packs_compacted"


def read_filter(
    spark: SparkSession, zone_dir: str, group_cols: Sequence[str] = ()
) -> DataFrame | None:
    """The ledger's current packed filter — OR-folded over snapshot +
    deltas, identical to one build over everything the stream has
    carried (the semilattice parity pytest pins)."""
    return read_monoid_ledger(
        spark, zone_dir, BLOOM_SUBDIR, BLOOM_COMPACT_SUBDIR,
        lambda parts: bloom_merge(parts, group_cols),
    )


def ledger_probe(
    spark: SparkSession,
    zone_dir: str,
    values: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = BLOOM_K,
    salt: str = "bloom",
    out_col: str = "maybe_seen",
) -> DataFrame | None:
    """Membership probe against the all-time filter: never false for a
    value the stream carried; true is "maybe" at the occupancy fpp."""
    packed = read_filter(spark, zone_dir, group_cols)
    if packed is None:
        return None
    return bloom_probe(
        values, value_col, packed, group_cols, k=k, salt=salt,
        out_col=out_col,
    )


def ledger_occupancy(
    spark: SparkSession,
    zone_dir: str,
    group_cols: Sequence[str] = (),
    k: int = BLOOM_K,
) -> DataFrame | None:
    """Saturation tile: bits set + occupancy fpp estimate per group."""
    packed = read_filter(spark, zone_dir, group_cols)
    if packed is None:
        return None
    return bloom_occupancy(packed, group_cols, k=k)


def stream_bloom_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    salt: str = "bloom",
    compact_every: int | None = 8,
):
    """Start the ledger query.  Returns ``(query, packs_dir)``: one
    packed filter per micro-batch, an OR-folded snapshot every
    ``compact_every`` batches; the OR semilattice makes even an
    accidental double-fold harmless (idempotent bits)."""
    g = list(group_cols)
    return stream_monoid_ledger(
        df, zone_dir, checkpoint, BLOOM_SUBDIR, BLOOM_COMPACT_SUBDIR,
        lambda batch_df: bloom_pack(
            bloom_bits(batch_df, value_col, g, m=m, k=k, salt=salt), g, m=m, k=k
        ),
        lambda parts: bloom_merge(parts, g),
        compact_every,
    )


def frontier_filter_seen(
    spark: SparkSession,
    zone_dir: str,
    frontier: DataFrame,
    url_col: str = "url",
    group_cols: Sequence[str] = (),
    k: int = BLOOM_K,
    salt: str = "bloom",
) -> DataFrame:
    """Drop frontier URLs the crawl stream has (maybe) already seen —
    the ledger's crawl-frontier composition (pair with
    ``web.prioritize_frontier`` + ``web.fetch_schedule``).

    Error direction, stated honestly: a SEEN url always probes true
    (no false negatives) so nothing is ever re-enqueued; a NEVER-seen
    url is dropped with probability ≈ the occupancy fpp — an
    acceptable crawl-coverage loss while the filter is unsaturated,
    and ``ledger_occupancy`` is the alarm that says when it isn't.
    Returns the frontier unchanged when no ledger state exists yet
    (cold start: everything is unseen)."""
    probed = ledger_probe(
        spark, zone_dir, frontier, url_col, group_cols, k=k, salt=salt,
        out_col="_seen",
    )
    if probed is None:
        return frontier
    from pyspark.sql import functions as F

    return probed.filter(~F.col("_seen")).drop("_seen")
