"""Compacting zone ledgers: the delta → compact → delete lifecycle that
every streaming zone keeps its state in.

A zone ledger holds its state IN THE ZONE, as two directories:

* ``<subdir>/batch=<id>`` — the delta one micro-batch contributed;
* ``<compact_subdir>/upto=<id>`` — a snapshot folding every batch
  ≤ id.

The streaming query itself is stateless: restarts resume from the
checkpoint's batch id, there is no watermark bound on history, and any
engine can read the ledger from the raw parquet.

Crash safety does not come from the fold operator.  A SUM monoid
re-adds anything it sees twice, and only MAX/OR semilattices forgive
that.  It comes from three bookkeeping rules, which hold for every
zone built on this module:

1. Per-batch deltas are derived from the batch alone, keyed by batch
   id and written with overwrite.  A batch replayed after a crash
   rewrites its own delta; it never adds a second one.
2. A snapshot is written BEFORE anything it covers is deleted
   (:func:`compact` → :func:`prune`).  Every zone but the near-dup
   indexes folds batches ≤ current − 1 only, so a snapshot never holds
   the batch that wrote it.  A replay of that batch then reads the
   same pre-batch state.
3. Every read skips the deltas the newest snapshot already covers
   (:func:`read_parts`).

Under any crash interleaving a reader therefore sees each batch's
contribution exactly once.  A crash between the snapshot write and the
delete leaves covered deltas behind; reads skip them, and the replayed
compaction finds its snapshot already written.  It does not rewrite the
snapshot, because that would overwrite the directory it reads from.
It only prunes.  A snapshot is written to ``upto=<id>.tmp`` and renamed
into place, so a crash DURING the write leaves a directory whose id
does not parse: every reader skips it, and the replay rewrites it.
``tests/test_ledger_parts.py`` injects both crashes into every ledger
kind.

Snapshot and deltas share one schema (a fold keeps its delta's columns
and types), so a read is ONE multi-path parquet scan however many parts
are live.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def dir_ids(root: str, key: str) -> list[int]:
    """Numeric ids of ``<key>=<n>`` subdirectories of ``root`` (empty
    when the root does not exist yet)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith(f"{key}="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def read_parts(
    spark: SparkSession,
    part_dir: str,
    compact_dir: str,
    upto: int | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """All live rows of a ledger, unfolded: the newest ``upto=<id>``
    snapshot plus the ``batch=<b>`` deltas after it (rule 3).  With
    ``upto`` set, the state as of batch ``upto``: the newest snapshot
    ≤ ``upto`` and only the deltas ≤ ``upto``.

    One multi-path scan: one file listing and at most one
    schema-inference job.  A caller that just wrote a delta passes its
    ``schema`` and the read infers nothing."""
    snaps = [s for s in dir_ids(compact_dir, "upto") if upto is None or s <= upto]
    snap_id = snaps[-1] if snaps else None
    paths = [] if snap_id is None else [os.path.join(compact_dir, f"upto={snap_id}")]
    paths += [
        os.path.join(part_dir, f"batch={b}")
        for b in dir_ids(part_dir, "batch")
        if (snap_id is None or b > snap_id) and (upto is None or b <= upto)
    ]
    if not paths:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def prune(part_dir: str, compact_dir: str, upto: int) -> None:
    """Delete what snapshot ``upto`` supersedes: the deltas ≤ ``upto``
    and the older snapshots.  Called only once that snapshot is
    written (rule 2)."""
    for b in dir_ids(part_dir, "batch"):
        if b <= upto:
            shutil.rmtree(os.path.join(part_dir, f"batch={b}"), ignore_errors=True)
    for u in dir_ids(compact_dir, "upto"):
        if u < upto:
            shutil.rmtree(os.path.join(compact_dir, f"upto={u}"), ignore_errors=True)


def compact(
    spark: SparkSession,
    part_dir: str,
    compact_dir: str,
    upto: int,
    write_snapshot: Callable[[DataFrame, str], None],
    schema: StructType | None = None,
) -> None:
    """Fold the parts ≤ ``upto`` into snapshot ``upto=<upto>``, then
    prune.  ``write_snapshot(parts, path)`` writes the snapshot from
    the unfolded parts, to a ``.tmp`` path that is then renamed into
    place.  A replay that finds the snapshot already written goes
    straight to the prune (module docstring)."""
    snap = os.path.join(compact_dir, f"upto={upto}")
    if not os.path.isdir(snap):
        parts = read_parts(spark, part_dir, compact_dir, upto, schema)
        if parts is None:
            return
        shutil.rmtree(snap + ".tmp", ignore_errors=True)
        write_snapshot(parts, snap + ".tmp")
        os.rename(snap + ".tmp", snap)
    prune(part_dir, compact_dir, upto)


def compaction_due(batch_id: int, compact_every: int | None) -> bool:
    """Whether batch ``batch_id`` folds batches ≤ ``batch_id − 1``:
    every ``compact_every`` batches (never when it is ``None``)."""
    return bool(compact_every) and batch_id > 0 and (batch_id + 1) % compact_every == 0


def start_stream(
    df: DataFrame, handle: Callable[[DataFrame, int], None], checkpoint: str
):
    """Start ``handle(batch_df, batch_id)`` over ``df`` as a bounded
    drain of everything available now."""
    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_monoid_ledger(
    spark: SparkSession,
    zone_dir: str,
    subdir: str,
    compact_subdir: str,
    fold: Callable[[DataFrame], DataFrame],
) -> DataFrame | None:
    """The ledger's current state: ``fold`` over snapshot + live
    deltas (``None`` before the first batch)."""
    parts = read_parts(
        spark, os.path.join(zone_dir, subdir), os.path.join(zone_dir, compact_subdir)
    )
    return None if parts is None else fold(parts)


def stream_monoid_ledger(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    subdir: str,
    compact_subdir: str,
    delta: Callable[[DataFrame], DataFrame],
    fold: Callable[[DataFrame], DataFrame],
    compact_every: int | None,
):
    """Start a ledger whose state is a monoid or semilattice:
    ``delta(batch_df)`` is one batch's contribution, and ``fold(parts)``
    merges any set of deltas and snapshots into one part of the same
    schema.  Each batch writes its delta; every ``compact_every``
    batches the deltas ≤ current − 1 fold into a snapshot.  Returns
    ``(query, part_dir)``."""
    part_dir = os.path.join(zone_dir, subdir)
    compact_dir = os.path.join(zone_dir, compact_subdir)
    spark = df.sparkSession

    def write_snapshot(parts: DataFrame, path: str) -> None:
        fold(parts).write.mode("overwrite").parquet(path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        d = delta(batch_df)
        d.write.mode("overwrite").parquet(os.path.join(part_dir, f"batch={batch_id}"))
        if compaction_due(batch_id, compact_every):
            compact(spark, part_dir, compact_dir, batch_id - 1, write_snapshot, d.schema)

    return start_stream(df, handle, checkpoint), part_dir
