"""Streaming corpus governance: incremental per-source contribution
cap.

The batch cap (``operators/curation.py::per_group_cap``) ranks the
WHOLE corpus per group by hash order.  At ingest time the right
semantic is first-come-first-capped: documents that arrived in earlier
micro-batches hold their slots; a replayed batch must re-derive
exactly the same keeps.  So the state is the per-(group) ACCEPTED
count, stored per batch:

* ``kept/batch=<id>`` — the rows this batch accepted;
* ``counts/batch=<id>`` — this batch's per-group accepted counts.

A batch's decision depends only on the counts of batches STRICTLY
before it (its own crashed half-write is excluded by id), plus a
deterministic hash-order ranking within the batch — so the
``batch=<id>`` overwrite is idempotent under checkpoint replay, the
same argument as ``stream_near_dup_index``.  The prior-counts frame is
one row per group seen so far (bounded by group cardinality, not
corpus size) and joins broadcast against the batch.

State lives in the zone, not the state store: no watermark, restarts
resume from the checkpoint's batch id, and the accumulated counts are
re-readable by any engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ledger import compact, compaction_due, dir_ids, read_parts, start_stream

KEPT_SUBDIR = "cap_kept"
COUNTS_SUBDIR = "cap_counts"
COUNTS_COMPACT_SUBDIR = "cap_counts_compacted"


def _prior_counts(
    spark: SparkSession,
    counts_dir: str,
    compact_dir: str,
    group_col: str,
    before_batch: int,
) -> DataFrame | None:
    """Accumulated accepted counts over batches < ``before_batch``
    (``None`` when no prior batch exists): the newest snapshot
    strictly before ``before_batch`` plus the deltas after it.  A
    replayed batch never reads state that includes itself."""
    parts = read_parts(spark, counts_dir, compact_dir, upto=before_batch - 1)
    if parts is None:
        return None
    return parts.groupBy(group_col).agg(F.sum("n_accepted").alias("_prior"))


def stream_source_cap(
    df: DataFrame,
    zone_dir: str,
    checkpoint: str,
    group_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    salt: str = "cap",
    compact_every: int | None = 8,
):
    """Start the incremental cap query.  Returns
    ``(query, kept_dir, counts_dir)``.

    Within a batch, rows rank by md5(salt_id) per group (deterministic
    for any partitioning); across batches, earlier batches keep their
    slots.  Each batch writes its keeps and its per-group accepted
    counts under ``batch=<id>`` — idempotent keyed overwrites.

    Every ``compact_every`` batches the count deltas fold into one
    group-cardinality-sized snapshot (``streaming/ledger.py``), so the
    per-batch state read stays bounded as the stream ages.  The fold
    covers batches ≤ current − 1 only: a snapshot must never include
    the batch that wrote it, or a crash-replay of that batch would
    read its own output as "prior" and cap itself out.
    ``compact_every=None`` disables compaction.
    """
    kept_dir = os.path.join(zone_dir, KEPT_SUBDIR)
    counts_dir = os.path.join(zone_dir, COUNTS_SUBDIR)
    counts_compact_dir = os.path.join(zone_dir, COUNTS_COMPACT_SUBDIR)
    spark = df.sparkSession

    def write_snapshot(parts: DataFrame, path: str) -> None:
        parts.groupBy(group_col).agg(
            F.sum("n_accepted").alias("n_accepted")
        ).write.mode("overwrite").parquet(path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prior = _prior_counts(
            spark, counts_dir, counts_compact_dir, group_col, batch_id
        )
        h = F.md5(
            F.concat_ws("_", F.lit(salt), F.col(id_col).cast("string"))
        )
        w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
        ranked = batch_df.withColumn("_rn", F.row_number().over(w))
        if prior is not None:
            ranked = ranked.join(F.broadcast(prior), group_col, "left")
        else:
            ranked = ranked.withColumn("_prior", F.lit(None).cast("long"))
        kept = (
            ranked.withColumn(
                "_allowed", F.lit(cap) - F.coalesce(F.col("_prior"), F.lit(0))
            )
            .filter(F.col("_rn") <= F.col("_allowed"))
            .drop("_rn", "_prior", "_allowed")
            .localCheckpoint()  # two consumers: the keep write + counts
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(kept_dir, f"batch={batch_id}")
        )
        counts = kept.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n_accepted")
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(counts_dir, f"batch={batch_id}")
        )
        if compaction_due(batch_id, compact_every):
            compact(
                spark, counts_dir, counts_compact_dir, batch_id - 1,
                write_snapshot, counts.schema,
            )

    return start_stream(df, handle, checkpoint), kept_dir, counts_dir


def read_kept(spark: SparkSession, kept_dir: str) -> DataFrame | None:
    """All accepted rows across batches (None before the first)."""
    ids = dir_ids(kept_dir, "batch")
    if not ids:
        return None
    return spark.read.option("basePath", kept_dir).parquet(
        *[os.path.join(kept_dir, f"batch={b}") for b in ids]
    ).drop("batch")
