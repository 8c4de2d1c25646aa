"""End-to-end pipeline driver: the reference's workflow DAG as one
composable module.

The reference runs its stages as separate cron-triggered container
jobs handing data off as versioned parquet on object storage
(.github/workflows/data-pipeline.yaml:69-230 — ingest/preprocess →
validate → merge-trips → export; R/utils.R:30-52 for the versioned
handoff).  Here each stage reads the NEWEST versioned snapshot of its
upstream zone and writes its own immutable versioned snapshot:

* re-running any stage is idempotent — a new version lands, history
  stays intact, ``read_latest`` always resolves the freshest input;
* the zone directory IS the audit log (every run's output is
  addressable by timestamp + git sha);
* on a cluster each stage is its own Spark job and the handoff is
  object storage — exactly the reference's shape, minus the cron glue.

Nothing here collects to the driver; stages return the written path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..io import parquet_io
from . import export as export_plan
from . import merge_trips as mt
from .preprocess import preprocess_landings
from .validate import validate_surveys


@dataclass
class PipelineZones:
    """A versioned-zone namespace rooted at ``root`` (locally a dir; in
    production an object-store prefix)."""

    root: str
    git_sha: str = "local"

    def write(self, df: DataFrame, prefix: str, **kw) -> str:
        return parquet_io.write_versioned(df, self.root, prefix, self.git_sha, **kw)

    def write_bucketed(
        self, df: DataFrame, prefix: str, bucket_cols: list[str],
        n_buckets: int = 8,
    ) -> str:
        """Versioned snapshot persisted hash-bucketed on
        ``bucket_cols`` — the layout for curated tables that are
        repeatedly joined on one key: one shuffle at write time buys
        exchange-free joins on every downstream read via
        ``read_bucketed``."""
        return parquet_io.write_bucketed_versioned(
            df, self.root, prefix, bucket_cols, n_buckets, self.git_sha
        )

    def read_as_of(
        self, spark: SparkSession, prefix: str, as_of: str
    ) -> DataFrame:
        """Time travel (parquet_io.read_as_of): the zone as it stood
        at the given stamp (or stamp prefix)."""
        return parquet_io.read_as_of(spark, self.root, prefix, as_of)

    def history(self, prefix: str) -> list[dict]:
        """DESCRIBE HISTORY (parquet_io.version_history)."""
        return parquet_io.version_history(self.root, prefix)

    def read(self, spark: SparkSession, prefix: str) -> DataFrame:
        return parquet_io.read_latest(spark, self.root, prefix)

    def read_bucketed(self, spark: SparkSession, prefix: str) -> DataFrame:
        return parquet_io.read_latest_bucketed(spark, self.root, prefix)

    def compact(
        self, spark: SparkSession, prefix: str, target_mb: int = 256, **kw
    ) -> str:
        """Maintenance: rewrite the newest snapshot of ``prefix`` with
        byte-targeted file sizes (see ``parquet_io.compact_zone``).
        Lands as a new version, so ``read``/``is_fresh`` flip over
        atomically and in-flight readers of the old version are
        unaffected."""
        return parquet_io.compact_zone(
            spark, self.root, prefix, target_mb, git_sha=self.git_sha, **kw
        )

    def vacuum(
        self, spark: SparkSession, prefix: str, keep_last: int = 2
    ) -> list[str]:
        """Maintenance: retention for ``prefix`` — delete superseded
        versions beyond the newest ``keep_last`` and drop any bucketed
        catalog entries with them (see ``parquet_io.vacuum_zone``).
        Compact + vacuum are the standing maintenance pair every
        incremental zone needs: compact bounds file counts, vacuum
        bounds version counts."""
        return parquet_io.vacuum_zone(spark, self.root, prefix, keep_last)

    def seal(self, spark: SparkSession, prefix: str) -> tuple[int, str]:
        """Release notarization: record the newest snapshot's integrity
        sidecar (idempotent) and return its (n_rows, content_fp)
        identity — the pair a corpus release publishes next to its
        card; ``verify_latest``/``parquet_io.verify_zone`` check any
        later copy against it.  Seal only what leaves the pipeline;
        intermediate zones never pay the read-back scan."""
        return parquet_io.seal_zone(spark, self.root, prefix)

    def verify(self, spark: SparkSession, prefix: str) -> DataFrame:
        """Mismatch frame of the newest sealed snapshot vs its sidecar
        (empty = bit-matches the release)."""
        return parquet_io.verify_latest(spark, self.root, prefix)

    def record_provenance(
        self, prefix: str, upstreams: list[str]
    ) -> dict[str, str | None]:
        """Record the exact upstream versions ``prefix`` was built from
        (see ``parquet_io.record_provenance``) — seal says WHAT a
        release contains, this says WHERE it came from."""
        return parquet_io.record_provenance(self.root, prefix, upstreams)

    def provenance(self, prefix: str) -> dict[str, str | None]:
        return parquet_io.read_provenance(self.root, prefix)

    def version_ts(self, prefix: str) -> str | None:
        """Timestamp (YYYYmmddHHMMSS) of the newest version, or None."""
        try:
            path = parquet_io.latest_version_path(self.root, prefix)
        except FileNotFoundError:
            return None
        m = parquet_io.VERSION_RE.search(path)
        return m.group(1) if m else None

    def is_fresh(self, product: str, *upstreams: str) -> bool:
        """A product is fresh if it exists and is at least as new as
        every upstream it derives from — the incremental-orchestration
        test (string compare works: the timestamp format is sortable).
        A missing upstream does NOT make the product stale."""
        pt = self.version_ts(product)
        if pt is None:
            return False
        ups = [self.version_ts(u) for u in upstreams]
        return all(u is None or u <= pt for u in ups)


def stage_preprocess(
    spark: SparkSession, raw: DataFrame, lw_coeffs: DataFrame, zones: PipelineZones
) -> str:
    """Ingest+preprocess job (workflow: preprocess_landings_lurio).

    The survey zones range-partition on ``landing_date``: every
    downstream consumer (validation windows, monthly exports, trip
    merges) filters or groups by date, so disjoint per-file date
    ranges turn those predicates into file-level pruning."""
    return zones.write(
        preprocess_landings(raw, lw_coeffs), "preprocessed",
        range_by=["landing_date"],
    )


def stage_validate(
    spark: SparkSession, zones: PipelineZones, taxa_bounds: DataFrame | None = None
) -> tuple[str, str]:
    """Validation job (workflow: validate_surveys_lurio): reads the
    newest preprocessed snapshot, writes the flags and validated zones.
    Both are projections of ``validate_surveys``' one per-submission
    aggregate, so each write is one scan of the snapshot and one
    shuffle."""
    validated, flags = validate_surveys(
        zones.read(spark, "preprocessed"), taxa_bounds=taxa_bounds
    )
    flags_path = zones.write(flags, "flags")
    return zones.write(validated, "validated", range_by=["landing_date"]), flags_path


def stage_merge_trips(
    spark: SparkSession, pds_trips: DataFrame, zones: PipelineZones
) -> str:
    """Tracker/survey merge job (workflow: merge_trips, needs
    validate + pds ingest)."""
    landings = (
        zones.read(spark, "preprocessed")
        .select("submission_id", "landing_date", "pds_imei")
        .distinct()
    )
    return zones.write(mt.merge_trips(pds_trips, landings), "trips_merged")


def stage_export(spark: SparkSession, zones: PipelineZones) -> dict[str, str]:
    """Export job (workflow: summarize_data + export-aggregated): the
    portal products off the newest validated snapshot."""
    validated = zones.read(spark, "validated")
    return {
        "monthly_metrics": zones.write(
            export_plan.monthly_metrics(validated), "monthly_metrics"
        ),
        "sites_stats": zones.write(export_plan.sites_stats(validated), "sites_stats"),
        "habitat_gear_series": zones.write(
            export_plan.habitat_gear_series(validated), "habitat_gear_series"
        ),
    }


def run_full_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    lw_coeffs: DataFrame,
    pds_trips: DataFrame | None,
    zone_root: str,
    git_sha: str = "local",
    taxa_bounds: DataFrame | None = None,
    skip_fresh: bool = False,
) -> dict[str, str]:
    """Run the whole DAG in dependency order; returns stage → path.

    ``skip_fresh=True`` gives incremental orchestration: a downstream
    stage re-runs only when an upstream zone carries a NEWER version
    than its own latest output, so the reference's rerun-everything
    cron becomes a cheap no-op when nothing changed.  The preprocess
    stage is reused whenever ANY version exists — by passing
    ``skip_fresh`` the caller asserts the raw pull itself is unchanged
    (raw is an in-memory frame; its freshness is not zone-observable).
    """
    zones = PipelineZones(zone_root, git_sha)
    out: dict[str, str] = {}
    if skip_fresh and zones.is_fresh("preprocessed"):
        out["preprocessed"] = parquet_io.latest_version_path(zone_root, "preprocessed")
    else:
        out["preprocessed"] = stage_preprocess(spark, raw, lw_coeffs, zones)

    # a skip must check EVERY product the stage would have written: a
    # prior run that died between writes leaves one product fresh and a
    # sibling missing, and resolving the missing sibling would raise
    # instead of re-running the stage
    if skip_fresh and all(
        zones.is_fresh(p, "preprocessed") for p in ("validated", "flags")
    ):
        out["validated"] = parquet_io.latest_version_path(zone_root, "validated")
        out["flags"] = parquet_io.latest_version_path(zone_root, "flags")
    else:
        out["validated"], out["flags"] = stage_validate(spark, zones, taxa_bounds)

    if pds_trips is not None:
        if skip_fresh and zones.is_fresh("trips_merged", "preprocessed"):
            out["trips_merged"] = parquet_io.latest_version_path(
                zone_root, "trips_merged"
            )
        else:
            out["trips_merged"] = stage_merge_trips(spark, pds_trips, zones)

    export_products = ("monthly_metrics", "sites_stats", "habitat_gear_series")
    if skip_fresh and all(zones.is_fresh(p, "validated") for p in export_products):
        for p in export_products:
            out[p] = parquet_io.latest_version_path(zone_root, p)
    else:
        out.update(stage_export(spark, zones))
    return out
