"""Validation plan: the reference's full 13-flag battery → flag table,
validated subset, and per-trip indicators.

Mirrors ``validate_surveys_lurio`` (R/validation.R:45-457) exactly:

Stage 1 — row-level rule flags (R/validation.R:127-201):
  1  form incomplete (catch_outcome "1" but no catch_taxon)
  2  catch info incomplete (taxon but no weight and no individuals)
  3  length below per-taxon min_length        (taxa-bounds join, J10)
  4  length above per-taxon max_length_75     (taxa-bounds join, J10)
  5  weight per bucket > 50 kg
  6  n_buckets > 300
  7  individuals > 200 per record
  12 trip duration ≤ 0 or ≥ 60 h
  13 submitted before landing date

Stage 2 — composite indicator flags on the NO-flag subset only
(R/validation.R:308-430):
  8  price per kg > 2500 MZN (incl. the zero-catch/positive-price case
     R's Inf > max catches)
  9  CPUE > 30 kg/fisher/h (Inf excluded)
  10 RPUE > 2500 MZN/fisher/h (Inf excluded)
  11 zero fishers with catch_outcome "1"

Both stages and the exclusion are projections of ONE per-submission
aggregate over the rule-annotated rows: the stage-1 flag rollup and the
``trip_indicators`` expressions over the catch-zeroed columns share one
``groupBy("submission_id")``.  The composite flag is evaluated only
where the stage-1 flag is NULL and the id is non-NULL, ``alert_flag`` is
``coalesce(stage1, composite)``, and ``validated`` keeps the rows whose
``alert_flag`` is NULL or whose id is NULL.  This equals the reference's
anti-join → stage 2 → full-join merge → anti-join formulation exactly:

* stage 1 excludes WHOLE submissions, so a stage-1-clean submission's
  stage-2 indicators are its aggregate over all of its rows;
* composite ids are a subset of the stage-1-clean ids, so the full-join
  merge of the two flag stages reduces to a coalesce;
* the NULL-id group keeps only its stage-1 flags and stays in
  ``validated``, because an anti join never matches a NULL key.

The flag battery is data — (flag_id, predicate) pairs evaluated as one
projection — and the taxa bounds broadcast one row per taxon, so each
output is one scan of ``preprocessed`` and one shuffle, with no join on
the submission id.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import flag_concat, safe_div
from ..operators.aggregates import robust_bounds, sum_not_null

# validation thresholds (R/validation.R:144-150; config inst/config.yml)
THRESHOLDS: Mapping[str, float] = {
    "max_bucket_weight_kg": 50.0,
    "max_n_buckets": 300.0,
    "max_n_individuals": 200.0,
    "price_kg_max": 2500.0,
    "cpue_max": 30.0,
    "rpue_max": 2500.0,
    "max_trip_hours": 60.0,
}


def reference_rule_flags(
    thresholds: Mapping[str, float] | None = None,
) -> list[tuple[str, Column]]:
    """Stage-1 battery with the reference's numbering and semantics
    (R/validation.R:127-201).  Catch-level flags only apply to active
    surveys (the reference filters ``survey_activity == "1"`` before
    flagging catch rows, R/validation.R:110-113); general flags 12/13
    apply to every row."""
    t = {**THRESHOLDS, **(thresholds or {})}
    active = F.col("survey_activity") == "1"
    taxon = F.col("catch_taxon")
    kg = F.col("catch_kg")
    ind = F.col("n_individuals")
    return [
        ("1", active & (F.col("catch_outcome") == "1") & taxon.isNull()),
        ("2", active & taxon.isNotNull()
         & (kg.isNull() | (kg <= 0)) & (ind.isNull() | (ind <= 0))),
        ("3", active & F.col("length").isNotNull() & F.col("min_length").isNotNull()
         & (F.col("length") < F.col("min_length"))),
        ("4", active & F.col("length").isNotNull() & F.col("max_length_75").isNotNull()
         & (F.col("length") > F.col("max_length_75"))),
        ("5", active & (F.col("weight_bucket").cast("double") > t["max_bucket_weight_kg"])),
        ("6", active & (F.col("n_buckets").cast("double") > t["max_n_buckets"])),
        ("7", active & (ind > t["max_n_individuals"])),
        ("12", (F.col("trip_duration") <= 0)
         | (F.col("trip_duration") >= t["max_trip_hours"])),
        ("13", F.col("submission_date") < F.col("landing_date")),
    ]


def attach_taxa_bounds(df: DataFrame, taxa_bounds: DataFrame | None) -> DataFrame:
    """Broadcast-join per-taxon length bounds for flags 3/4 (J10); with
    no bounds table the columns are NULL and the flags never fire.

    Duplicate taxa collapse to one row, the strictest bounds
    (``max(min_length)``, ``min(max_length_75)``): flags 3/4 then fire
    exactly when any duplicate bound would fire them, and the rows stay
    1:1 with ``df`` so per-submission sums are not multiplied."""
    if taxa_bounds is None:
        if "min_length" in df.columns:
            return df
        return df.withColumn("min_length", F.lit(None).cast("double")).withColumn(
            "max_length_75", F.lit(None).cast("double")
        )
    b = taxa_bounds.groupBy("catch_taxon").agg(
        F.max("min_length").alias("min_length"),
        F.min("max_length_75").alias("max_length_75"),
    )
    return df.join(F.broadcast(b), "catch_taxon", "left")


def rule_expectations(
    rules: Sequence[tuple[str, Column]] | None = None,
):
    """The stage-1 battery as declarative expectations
    (``operators/expectations.Rule``): each flag condition becomes a
    rule EXPECTING the condition not to hold, so the framework's
    ``check``/``annotate``/``quarantine_split`` all run over the
    reference battery (VERDICT r13 Next #5).

    NULL bridging: the battery's ``when(cond, flag)`` fires only on a
    TRUE condition (NULL → no flag), while an expectation counts a
    NULL predicate as a violation — coalescing the condition to FALSE
    before negating preserves the battery's semantics exactly."""
    from ..operators.expectations import expect

    rules = list(rules or reference_rule_flags())
    return [
        expect(fid, ~F.coalesce(cond, F.lit(False))) for fid, cond in rules
    ]


def apply_rule_flags(
    df: DataFrame, rules: Sequence[tuple[str, Column]] | None = None
) -> DataFrame:
    """Evaluate the battery through the expectations framework's
    per-row annotation (one projection, codegen, no shuffle) and
    comma-join the failed-rule array into ``alert_flag`` — identical
    strings to the historical when-column concat (A9; the reference's
    'NA' scrubbing, R/validation.R:211-234, is unnecessary because
    the annotation array only ever holds fired flags)."""
    from ..operators.expectations import annotate

    rules = list(rules or reference_rule_flags())
    ann = annotate(df, rule_expectations(rules), out_col="_failed_rules")
    arr = F.col("_failed_rules")
    return ann.withColumn(
        "alert_flag",
        F.when(F.size(arr) > 0, F.array_join(arr, ",")),
    ).drop("_failed_rules")


def rule_battery_report(
    df: DataFrame,
    rules: Sequence[tuple[str, Column]] | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Violation-count report for the stage-1 battery via
    ``expectations.check`` — ONE aggregate scan for all 9 rules
    (× group when ``group_cols`` is given); the monitoring companion
    to :func:`apply_rule_flags`."""
    from ..operators.expectations import check

    return check(df, rule_expectations(rules), group_cols=group_cols)


def statistical_flags(
    df: DataFrame,
    value_col: str = "catch_price",
    group_cols: Sequence[str] = ("gear_type",),
    k: float = 3.0,
    flag_id: str = "stat_price_outlier",
) -> DataFrame:
    """Per-group MAD-bounds outlier flag (A7 + J10): join the tiny
    bounds table back (broadcast) and mark out-of-range rows.  An
    extension beyond the reference battery (its LocScaleB machinery,
    R/validation-functions.R:43-132, applied to this form)."""
    bounds = robust_bounds(df, list(group_cols), value_col, k=k)
    joined = df.join(F.broadcast(bounds), list(group_cols), "left")
    v = F.col(value_col)
    out_of_range = (
        v.isNotNull()
        & F.col("upper_bound").isNotNull()
        & ((v < F.col("lower_bound")) | (v > F.col("upper_bound")))
    )
    return joined.withColumn(
        "stat_flag", F.when(out_of_range, F.lit(flag_id))
    ).drop("lower_bound", "upper_bound")


def flag_rollup(*flag_cols: str) -> Column:
    """Aggregate: a group's distinct sorted flags joined ',', NULL when
    none fired (R/validation.R:241-256 paste-collapse — dplyr inherits
    input order, a distributed engine imposes a deterministic sort
    instead)."""
    split_flags = F.flatten(
        F.collect_list(F.split(flag_concat(*flag_cols, sep=","), ","))
    )
    rolled = F.array_join(F.array_sort(F.array_distinct(split_flags)), ",")
    return F.when(rolled != "", rolled)


def consolidate_flags(df: DataFrame, extra_flag_cols: Sequence[str] = ()) -> DataFrame:
    """Per-submission flag rollup (:func:`flag_rollup`)."""
    return df.groupBy("submission_id").agg(
        F.first("submission_date").alias("submission_date"),
        flag_rollup("alert_flag", *extra_flag_cols).alias("alert_flag"),
    )


# trip-level columns every catch row of a submission repeats
_TRIP_FIRSTS = (
    "catch_outcome", "n_fishers", "trip_duration", "gear_type", "habitat",
    "district", "landing_date",
)
_INDICATOR_COLUMNS = (
    "submission_id", "catch_kg", "catch_price", *_TRIP_FIRSTS,
    "cpue", "rpue", "price_per_kg",
)


def _trip_totals(catch_kg: Column, catch_price: Column) -> list[Column]:
    return [
        sum_not_null(catch_kg).alias("catch_kg"),
        F.first(catch_price, ignorenulls=True).alias("catch_price"),
        *[F.first(c, ignorenulls=True).alias(c) for c in _TRIP_FIRSTS],
    ]


def _ratios() -> list[Column]:
    effort = F.col("n_fishers") * F.col("trip_duration")
    return [
        safe_div(F.col("catch_kg"), effort).alias("cpue"),
        safe_div(F.col("catch_price"), effort).alias("rpue"),
        safe_div(F.col("catch_price"), F.col("catch_kg")).alias("price_per_kg"),
    ]


def trip_indicators(validated: DataFrame) -> DataFrame:
    """Per-trip composite indicators (M4): trip totals then
    CPUE = catch / fishers / duration, RPUE likewise from price; R's
    Inf-on-divide-by-zero is normalized to NULL at the source
    (R/validation.R:316-359)."""
    per_trip = validated.groupBy("submission_id").agg(
        *_trip_totals(F.col("catch_kg"), F.col("catch_price"))
    )
    return per_trip.select("*", *_ratios())


def composite_flag(thresholds: Mapping[str, float] | None = None) -> Column:
    """Stage-2 flags 8–11 over per-trip indicator columns
    (R/validation.R:360-400), comma-joined; NULL when none fires.

    ``price_per_kg``/``cpue``/``rpue`` arrive Inf-normalized-to-NULL from
    ``safe_div``; R's un-guarded ``price_kg > max`` fires on Inf (zero
    catch, positive price), so that case is reinstated explicitly."""
    t = {**THRESHOLDS, **(thresholds or {})}
    price_inf = (F.col("catch_kg") == 0) & (F.col("catch_price") > 0)
    flag8 = price_inf | (F.col("price_per_kg") > t["price_kg_max"])
    return flag_concat(
        F.when(flag8, F.lit("8")),
        F.when(F.col("cpue") > t["cpue_max"], F.lit("9")),
        F.when(F.col("rpue") > t["rpue_max"], F.lit("10")),
        F.when((F.col("n_fishers") == 0) & (F.col("catch_outcome") == "1"), F.lit("11")),
        sep=",",
    )


def validate_surveys(
    preprocessed: DataFrame,
    taxa_bounds: DataFrame | None = None,
    rules: Sequence[tuple[str, Column]] | None = None,
    thresholds: Mapping[str, float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full two-stage validation DAG (E2, R/validation.R:45-457).

    Returns ``(validated, flags)``: ``flags`` is one row per submission
    with its consolidated alert string across both stages; ``validated``
    excludes every flagged submission and carries the per-trip
    composite indicators.  Both are projections of ONE per-submission
    aggregate (module docstring).
    """
    # stage-1 flags run on the ORIGINAL columns: the reference computes
    # the rule battery before any normalization, so an outcome-0 row
    # with a recorded taxon and positive catch_kg does NOT fire flag 2
    # (zeroing catch first would fabricate the kg<=0 condition)
    annotated = apply_rule_flags(
        attach_taxa_bounds(preprocessed, taxa_bounds),
        rules or reference_rule_flags(thresholds),
    )
    # catch outcome "0" zeroes catch AND price only on the indicator
    # path (R/validation.R:291-302, post-flagging) — otherwise a
    # zero-catch trip with a recorded price fires flag 8 via Inf
    zero = F.col("catch_outcome") == "0"
    per_sub = annotated.groupBy("submission_id").agg(
        F.first("submission_date").alias("submission_date"),
        flag_rollup("alert_flag").alias("_stage1"),
        *_trip_totals(
            F.when(zero, F.lit(0.0)).otherwise(F.col("catch_kg")),
            F.when(zero, F.lit(0.0)).otherwise(F.col("catch_price")),
        ),
    ).select("*", *_ratios())
    sid = F.col("submission_id")
    frame = per_sub.withColumn("alert_flag", F.coalesce(
        F.col("_stage1"), F.when(sid.isNotNull(), composite_flag(thresholds))
    ))
    flags = frame.select("submission_id", "submission_date", "alert_flag")
    validated = frame.filter(
        F.col("alert_flag").isNull() | sid.isNull()
    ).select(*_INDICATOR_COLUMNS)
    return validated, flags


def explode_flags(flags: DataFrame) -> DataFrame:
    """One row per (submission, flag) for the flags sink
    (R/validation.R:1291-1294 separate_rows)."""
    return flags.filter(F.col("alert_flag").isNotNull()).select(
        "submission_id",
        "submission_date",
        F.explode(F.split("alert_flag", ",")).alias("flag"),
    )


def apply_manual_overrides(flags: DataFrame, approved_ids: DataFrame) -> DataFrame:
    """Manual-approval bypass (R/validation.R:464-504): a submission a
    human approved in the survey tool keeps NO automatic flags — its
    ``alert_flag`` clears, so it lands in the validated set regardless
    of the battery.  The id set is tiny (human decisions) — broadcast.
    """
    appr = approved_ids.select("submission_id").withColumn("_appr", F.lit(True))
    return (
        flags.join(F.broadcast(appr), "submission_id", "left")
        .withColumn(
            "alert_flag",
            F.when(F.col("_appr"), F.lit(None).cast("string")).otherwise(
                F.col("alert_flag")
            ),
        )
        .drop("_appr")
    )
