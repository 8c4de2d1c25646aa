"""Pipeline-at-volume demo: generate N synthetic wide survey
submissions DISTRIBUTED (spark.range + hash-derived columns, no driver
lists) and time preprocess → validate → metrics → export end to end.

Usage: python tools/pipeline_demo.py [n_submissions]   (default 100_000)

Each stage runs under its own Spark job group, and the demo prints the
stage's wall time next to the number of Spark jobs it ran, read from
the status tracker.

This exercises the plans/ modules at a volume the pytest fixtures
don't, and proves the E1-E3 DAGs contain no driver-side bottlenecks:
generation, reshape, validation and export all stay distributed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.plans import (
    export as export_plan,
    metrics as metrics_plan,
    preprocess as pre,
    validate as val,
)
from peskas_mozambique_data_pipeline_spark.session import get_spark


def synth_raw(spark, n: int):
    """Deterministic synthetic raw survey: every column derived from the
    row id via hash arithmetic — fully distributed, reproducible."""
    base = spark.range(n)

    def pick(seed: int, *choices: str):
        h = F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(len(choices)))
        expr = F.lit(choices[0])
        for i, c in enumerate(choices[1:], 1):
            expr = F.when(h == i, F.lit(c)).otherwise(expr)
        return expr

    def num(seed: int, lo: int, hi: int):
        return F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(hi - lo)) + F.lit(lo)

    day = F.pmod(F.xxhash64(F.col("id")), F.lit(364))
    landing = F.date_add(F.lit("2024-01-01").cast("date"), day.cast("int"))
    return base.select(
        F.concat(F.lit("sub_"), F.col("id")).alias("submission_id"),
        F.concat(landing.cast("string"), F.lit(" 06:00:00")).alias("group_general/landing_date"),
        F.concat(landing.cast("string"), F.lit(" 18:00:00")).alias("group_general/today"),
        pick(1, "Joao da Silva", "Maria Santos", "Ana Pereira", "Carlos Gomes").alias(
            "group_general/enumerator"
        ),
        F.lit(None).cast("string").alias("group_general/district"),
        pick(2, "palma", "mocimboa_da_praia", "quissanga").alias(
            "group_general/district_palma"
        ),
        F.lit(None).cast("string").alias("group_general/district_mocimboa"),
        F.lit("1").alias("group_general/survey_activity"),
        pick(3, "1", "1", "1", "0").alias("group_general/catch_outcome"),
        F.concat((num(4, -12, -10)).cast("string"), F.lit(".5 40.2 10 4")).alias(
            "group_general/location_coordinates"
        ),
        num(5, 1, 14).cast("string").alias("group_trip/trip_duration"),
        num(6, 0, 5).cast("string").alias("group_trip/no_men_fishers"),
        num(7, 0, 3).cast("string").alias("group_trip/no_women_fishers"),
        F.lit(None).cast("string").alias("group_trip/no_child_fishers"),
        pick(8, "handline", "gillnet", "longline", "trap", "seine").alias(
            "group_trip/gear_type"
        ),
        num(9, 1, 8).cast("string").alias("group_trip/habitat"),
        F.lit(None).cast("string").alias("group_trip/hook_size"),
        F.lit(None).cast("string").alias("group_trip/hook_size_other"),
        F.lit(None).cast("string").alias("group_trip/boat_reg_no"),
        F.lit(None).cast("string").alias("group_trip/pds_imei"),
        pick(10, "SNA", "GRP", "OCZ", "TUN", "MAC").alias(
            "group_species/1/selected_species"
        ),
        F.lit("1").alias("group_species/1/collection_type"),
        F.lit(None).cast("string").alias("group_species/1/n_buckets"),
        F.lit(None).cast("string").alias("group_species/1/weight_bucket"),
        F.lit(None).cast("string").alias("group_species/1/catch_estimate"),
        num(11, 0, 20).cast("string").alias("group_species/1/no_individuals_5_10"),
        num(12, 0, 10).cast("string").alias("group_species/1/no_individuals_10_15"),
        pick(13, "SNA", "GRP", "RAY").alias("group_species/2/selected_species"),
        F.lit("1").alias("group_species/2/collection_type"),
        F.lit(None).cast("string").alias("group_species/2/n_buckets"),
        F.lit(None).cast("string").alias("group_species/2/weight_bucket"),
        F.lit(None).cast("string").alias("group_species/2/catch_estimate"),
        num(14, 0, 12).cast("string").alias("group_species/2/no_individuals_5_10"),
        F.lit(None).cast("string").alias("group_species/2/no_individuals_10_15"),
        num(15, 100, 3000).cast("string").alias("group_market/catch_price"),
        F.lit(None).cast("string").alias("group_market/total_catch_value"),
        pick(16, "sale", "consumption").alias("group_market/catch_use"),
    )


class StageClock:
    """Wall time and Spark job count per stage: each stage runs under
    its own job group, whose jobs the status tracker lists."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.timings: dict[str, float] = {}
        self.jobs: dict[str, int] = {}

    def start(self, name: str) -> None:
        self.name, self.t0 = name, time.perf_counter()
        self.sc.setJobGroup(name, name)

    def stop(self) -> None:
        name = self.name
        self.timings[name] = round(time.perf_counter() - self.t0, 2)
        self.jobs[name] = len(self.sc.statusTracker().getJobIdsForGroup(name))
        print(f"[stage ] {name}: {self.timings[name]} s, {self.jobs[name]} jobs")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark(app_name="pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")

    lw = spark.createDataFrame(
        [("SNA", 0.02, 2.9), ("GRP", 0.015, 3.0), ("OCZ", 0.5, 2.2),
         ("TUN", 0.01, 3.1), ("MAC", 0.008, 3.05), ("RAY", 0.012, 2.95)],
        "catch_taxon string, a double, b double",
    )

    clock = StageClock(spark)

    clock.start("generate")
    raw = synth_raw(spark, n)
    raw.write.format("noop").mode("overwrite").save()
    clock.stop()

    clock.start("preprocess")
    prep = pre.preprocess_landings(raw, lw)
    prep.write.format("noop").mode("overwrite").save()
    clock.stop()

    prep = prep.cache()
    prep.count()

    clock.start("validate")
    validated, flags = val.validate_surveys(prep)
    validated.write.format("noop").mode("overwrite").save()
    flags.write.format("noop").mode("overwrite").save()
    clock.stop()

    validated = validated.cache()
    n_valid = validated.count()

    # declarative DQ report over the preprocessed zone — the
    # validation-flag battery generalized (operators/expectations.py):
    # every row-local rule folds into one scan; uniqueness and the
    # gear-dim referential check declare their own shuffle/anti-join
    clock.start("dq_report")
    from peskas_mozambique_data_pipeline_spark.operators import (
        expectations as dq,
    )

    gear_dim = spark.createDataFrame(
        [("handline",), ("gillnet",), ("longline",), ("trap",), ("seine",)],
        "gear string",
    )
    report = dq.full_report(
        prep,
        rules=[
            dq.expect("duration_sane", F.col("trip_duration") <= 72),
            dq.expect("crew_present", F.col("n_fishers") > 0),
            dq.expect("date_present", F.col("landing_date").isNotNull()),
        ],
        unique_keys=[["submission_id", "catch_taxon", "length_range"]],
        dims=[("gear_type", gear_dim, "gear")],
    ).collect()
    clock.stop()
    worst = max(report, key=lambda r: r.frac)
    print(f"[dq    ] {len(report)} checks; worst: {worst.rule} "
          f"{worst.n_violations}/{worst.n_rows} ({worst.frac})")

    # versioned zone landing + skipping-index pruned read (VERDICT r13
    # Next #7): the validated frame lands range-laid-out on
    # landing_date with its zone map, then a one-month window reads
    # back through read_pruned — the file-count assertion keeps
    # pruning CONTINUOUSLY MEASURED (the z-order discipline), and the
    # row-count assertion pins the bit-identical-to-plain-filter
    # contract on every demo run.
    clock.start("pruned_read")
    import shutil
    import tempfile

    from peskas_mozambique_data_pipeline_spark.io import (
        parquet_io,
        skipping as skip_io,
    )

    zone_root = tempfile.mkdtemp(prefix="pipeline_zone_")
    try:
        snap = parquet_io.write_versioned(
            validated,
            zone_root,
            "validated",
            range_by=["landing_date"],
            n_files=16,
            skipping_cols=["landing_date"],
        )
        import datetime as _dt

        win = (_dt.date(2024, 6, 1), _dt.date(2024, 6, 30))
        pruned = skip_io.read_pruned(spark, snap, {"landing_date": win})
        n_pruned = pruned.count()
        n_pruned_files = len(set(pruned.inputFiles()))
        full_zone = spark.read.parquet(snap)
        n_all_files = len(set(full_zone.inputFiles()))
        n_full = full_zone.filter(
            F.col("landing_date").between(*win)
        ).count()
        assert n_pruned == n_full, (n_pruned, n_full)
        assert n_pruned_files < n_all_files, (n_pruned_files, n_all_files)
        clock.stop()
        print(
            f"[prune ] one-month window: {n_pruned_files}/{n_all_files} "
            f"files, {n_pruned} rows == plain filter"
        )
    finally:
        shutil.rmtree(zone_root, ignore_errors=True)

    # re-identification gate before any export leaves the pipeline:
    # k-anonymity over the columns an outsider can link (district ×
    # enumerator × landing month), then rare-class suppression — the
    # release loop operators/privacy.py packages (one shuffle each)
    clock.start("privacy_gate")
    from peskas_mozambique_data_pipeline_spark.operators import (
        privacy as pv,
    )

    qi_frame = prep.select(
        "submission_id", "district", "enumerator", "landing_date"
    )
    qi_cols = ["district", "enumerator", "landing_date"]
    fine = pv.k_anonymity_report(qi_frame, qi_cols, k=5).collect()[0]
    # the anonymization loop: day-grain QI leaks, month-grain passes —
    # and whatever still violates after generalizing is suppressed
    coarse_frame = pv.generalize(
        qi_frame, {"landing_date": ("date_trunc", "month")}
    )
    coarse = pv.k_anonymity_report(coarse_frame, qi_cols, k=5).collect()[0]
    kept = pv.suppress_rare_groups(coarse_frame, qi_cols, k=5)
    n_kept = kept.count()
    assert n_kept == coarse.n_rows - coarse.n_risky_rows
    assert coarse.min_class_size >= fine.min_class_size
    clock.stop()
    print(
        f"[privacy] day-grain QI: {fine.n_risky_rows}/{fine.n_rows} rows "
        f"risky over {fine.n_classes} classes; month-grain: "
        f"{coarse.n_risky_rows} risky over {coarse.n_classes} classes, "
        f"{coarse.n_rows - n_kept} suppressed"
    )

    clock.start("metrics")
    catch = prep.filter(F.col("catch_kg").isNotNull())
    metrics_plan.fishery_metrics(validated, catch).write.format("noop").mode(
        "overwrite"
    ).save()
    clock.stop()

    clock.start("export")
    export_plan.monthly_metrics(validated).write.format("noop").mode("overwrite").save()
    export_plan.sites_stats(validated).write.format("noop").mode("overwrite").save()
    export_plan.taxa_shares(catch).write.format("noop").mode("overwrite").save()
    export_plan.habitat_gear_series(validated).write.format("noop").mode("overwrite").save()
    # the remaining two branches: taxa/length dim join + geo product
    taxa_dim = spark.createDataFrame(
        [("SNA", "Snapper"), ("OCZ", "Octopus")], "scientific_name string, english_name string"
    )
    export_plan.taxa_length(catch, taxa_dim).write.format("noop").mode("overwrite").save()
    stats = export_plan.per_site_stats(
        validated, ["district", "gear_type"], {"mean_cpue": F.avg("cpue")}
    )
    rollup = export_plan.region_median_rollup(stats, "district", ["mean_cpue"])
    geo = spark.createDataFrame(
        [("palma", "{}"), ("mocimboa da praia", "{}")], "region string, geometry_json string"
    )
    export_plan.geo_region_indicators(geo, rollup).write.format("noop").mode(
        "overwrite"
    ).save()
    clock.stop()

    print(
        json.dumps(
            {
                "n_submissions": n,
                "n_validated_trips": n_valid,
                "stages_sec": clock.timings,
                "stage_jobs": clock.jobs,
                "total_sec": round(sum(clock.timings.values()), 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
