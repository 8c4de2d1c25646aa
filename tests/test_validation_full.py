"""Full 13-flag validation battery: every reference flag fires on a
crafted fixture, composite flags only evaluate on the stage-1-clean
subset, and catch_outcome '0' zeroes price before indicators
(R/validation.R:127-201,291-302,308-430)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.plans import taxa as taxa_plan
from peskas_mozambique_data_pipeline_spark.plans import validate as val

COLS = (
    "submission_id string, survey_activity string, catch_outcome string, "
    "catch_taxon string, length double, n_individuals double, "
    "n_buckets double, weight_bucket double, catch_kg double, "
    "trip_duration double, n_fishers double, catch_price double, "
    "submission_date timestamp, landing_date timestamp, "
    "gear_type string, habitat string, district string"
)

_LAND = datetime.datetime(2024, 3, 10, 6, 0)
_SUB = datetime.datetime(2024, 3, 10, 18, 0)


def _row(sid, **kw):
    base = dict(
        submission_id=sid, survey_activity="1", catch_outcome="1",
        catch_taxon="SNA", length=30.0, n_individuals=5.0,
        n_buckets=2.0, weight_bucket=10.0, catch_kg=10.0,
        trip_duration=6.0, n_fishers=3.0, catch_price=100.0,
        submission_date=_SUB, landing_date=_LAND,
        gear_type="handline", habitat="Reef", district="Palma",
    )
    base.update(kw)
    return tuple(base.values())


@pytest.fixture(scope="module")
def bounds(spark):
    return spark.createDataFrame(
        [("SNA", 5.0, 60.0)],
        "catch_taxon string, min_length double, max_length_75 double",
    )


@pytest.fixture(scope="module")
def flagged(spark, bounds):
    rows = [
        _row("c0"),                                            # clean
        _row("c1", catch_taxon=None, length=None),             # 1 form incomplete
        _row("c2", catch_kg=None, n_individuals=None),         # 2 catch info incomplete
        _row("c3", length=2.0),                                # 3 below min_length
        _row("c4", length=80.0),                               # 4 above max_length_75
        _row("c5", weight_bucket=60.0),                        # 5 bucket weight
        _row("c6", n_buckets=400.0),                           # 6 bucket count
        _row("c7", n_individuals=300.0),                       # 7 individuals
        _row("c12", trip_duration=60.0),                       # 12 (>= 60 boundary)
        _row("c13", submission_date=datetime.datetime(2024, 3, 9, 18, 0)),  # 13
        _row("c8", catch_price=30000.0),                       # 8 price_kg 3000
        _row("c8inf", catch_kg=0.0, catch_price=100.0),        # 8 via Inf (0 catch)
        _row("c9", catch_kg=400.0),                            # 9 cpue 22.2? -> see below
        _row("c10", catch_price=40000.0, catch_kg=20.0, n_fishers=1.0),  # 10 rpue 6667
        _row("c11", n_fishers=0.0),                            # 11 zero fishers
        _row("inactive", survey_activity="0", catch_taxon=None, length=None),
        _row("gate", weight_bucket=60.0, catch_price=50000.0),  # stage-2 gated
        _row("multi", trip_duration=70.0,
             submission_date=datetime.datetime(2024, 3, 9, 18, 0)),  # 12,13
        _row("czero", catch_outcome="0", catch_taxon=None, length=None,
             catch_kg=0.0, catch_price=100.0),                 # zeroed, clean
    ]
    # c9: cpue = catch/(fishers*duration) must exceed 30 -> 600/(3*6)=33.3
    rows[12] = _row("c9", catch_kg=600.0)
    df = spark.createDataFrame(rows, COLS)
    validated, flags = val.validate_surveys(df, taxa_bounds=bounds)
    return validated.cache(), {r.submission_id: r.alert_flag for r in flags.collect()}


def test_each_flag_fires(flagged):
    _, fm = flagged
    expect = {
        "c1": "1", "c2": "2", "c3": "3", "c4": "4", "c5": "5", "c6": "6",
        "c7": "7", "c12": "12", "c13": "13",
        "c8": "8", "c8inf": "8", "c9": "9", "c10": "10", "c11": "11",
    }
    for sid, flag in expect.items():
        assert fm[sid] is not None and flag in fm[sid].split(","), (sid, fm[sid])
        assert fm[sid] == flag, (sid, fm[sid])  # exactly one flag each


def test_clean_and_inactive_unflagged(flagged):
    validated, fm = flagged
    assert fm["c0"] is None
    assert fm["inactive"] is None  # catch flags gated on survey_activity == "1"
    good = {r.submission_id for r in validated.collect()}
    assert "c0" in good and "inactive" in good
    assert good.isdisjoint({f"c{i}" for i in list(range(1, 14))})


def test_composite_only_on_stage1_clean(flagged):
    _, fm = flagged
    # 'gate' violates both bucket weight (5) and price cap (8): the
    # composite stage never sees it, so only "5" is recorded
    assert fm["gate"] == "5"
    assert fm["multi"] == "12,13"


def test_outcome_zero_zeroes_price(flagged):
    validated, fm = flagged
    assert fm["czero"] is None  # 0/0 -> NULL price_kg, no flag 8
    r = validated.filter(F.col("submission_id") == "czero").first()
    assert r.catch_price == 0.0 and r.price_per_kg is None


def test_taxa_lw_coeffs_filters_and_fly(spark):
    lw = spark.createDataFrame(
        [("SNA", "TL", 0.01, 2.9), ("SNA", "TL", 0.03, 3.1),
         ("OCZ", "ML", 0.5, 2.2), ("OCZ", "TL", 9.9, 9.9),   # TL row dropped
         ("PEZ", "SL", 9.9, 9.9)],                            # non-TL dropped
        "a3_code string, type string, a double, b double",
    )
    out = {r.catch_taxon: r for r in taxa_plan.lw_coeffs(lw).collect()}
    assert abs(out["SNA"].a_6 - (0.01 + 0.6 * 0.02)) < 1e-12  # type-7 q60 of 2
    assert out["OCZ"].a_6 == 0.5 and out["OCZ"].n == 1
    assert "PEZ" not in out  # every PEZ row filtered
    assert out["FLY"].a_6 == 0.00631 and out["FLY"].b_6 == 3.05 and out["FLY"].n == 0


def test_taxa_bounds_overrides(spark):
    morph = spark.createDataFrame(
        [("SNA", 20.0, 40.0, 800.0), ("SNA", 24.0, 60.0, 1200.0),
         ("IAX", 30.0, 300.0, 9000.0), ("PEZ", 10.0, 20.0, 50.0),
         ("COZ", 10.0, 20.0, 50.0), ("OCZ", 30.0, 90.0, 4000.0)],
        "a3_code string, CommonLength double, Length double, Weight double",
    )
    out = {r.catch_taxon: r for r in taxa_plan.taxa_bounds(morph).collect()}
    assert out["SNA"].min_length == 20.0 - 0.75 * 20.0       # permissive -75%
    assert out["SNA"].max_length_75 == 40.0 + 0.95 * 20.0    # type-7 q95 of 2
    assert out["IAX"].max_length_75 == 100.0                 # manual cap
    assert out["IAX"].min_length == 15.0
    assert out["PEZ"].min_length == 5.0
    assert out["COZ"].min_length == 2.0
    assert out["OCZ"].min_length == 15.0
    assert out["SNA"].max_weightkg_75 == (800.0 + 0.75 * 400.0) / 1000.0


def test_lw_overrides_and_recode(spark):
    lw = spark.createDataFrame(
        [("SNA", "TL", 0.01, 2.9), ("RAY", "TL", 0.02, 2.8)],
        "a3_code string, type string, a double, b double",
    )
    ov = spark.createDataFrame(
        [("SNA", 0.05, None)], "catch_taxon string, a_6 double, b_6 double"
    )
    out = {r.catch_taxon: r for r in taxa_plan.lw_coeffs_with_overrides(lw, ov).collect()}
    assert out["SNA"].a_6 == 0.05        # override wins
    assert out["SNA"].b_6 == 2.9         # NULL override keeps modeled value
    assert out["RAY"].a_6 == 0.02        # untouched

    df = spark.createDataFrame([("TUN",), ("SKH",), ("CLP",), ("SNA",)], ["catch_taxon"])
    got = sorted(r.catch_taxon for r in taxa_plan.recode_catch_taxon(df).collect())
    assert got == ["ANX", "CVX", "SNA", "TUS"]


def test_coeffs_wire_into_catch_model(spark):
    # end-to-end M2: fishbase snapshot -> quantile coeffs + override +
    # FLY literal -> preprocess uses the OVERRIDDEN coefficient
    from peskas_mozambique_data_pipeline_spark.plans import preprocess as pre
    from tests.test_pipeline import RAW_COLS, _row

    lw_raw = spark.createDataFrame(
        [("SNA", "TL", 0.02, 2.9)], "a3_code string, type string, a double, b double"
    )
    ov = spark.createDataFrame(
        [("SNA", 0.04, None)], "catch_taxon string, a_6 double, b_6 double"
    )
    coeffs = taxa_plan.as_model_coeffs(taxa_plan.lw_coeffs_with_overrides(lw_raw, ov))
    assert {r.catch_taxon for r in coeffs.collect()} == {"SNA", "FLY"}

    schema = ", ".join(f"`{c}` string" for c in RAW_COLS)
    raw = spark.createDataFrame([_row("w1")], schema)
    out = pre.preprocess_landings(raw, coeffs)
    r = out.filter(F.col("n_catch") == 1).first()
    assert abs(r.catch_kg - 0.04 * 7.5**2.9 * 4 / 1000) < 1e-9  # override a=0.04


def test_rule_flags_ride_expectations_one_projection(spark, tmp_path):
    """VERDICT r13 Next #5: the stage-1 battery now evaluates through
    operators/expectations (annotate) — the plan must stay ONE scan
    with NO shuffle (a pure projection), and the report companion
    folds all rules into one aggregate over the same single scan."""
    src = str(tmp_path / "prep")
    spark.createDataFrame(
        [("s1", "1", "1", None, None, None, None, None, 4.0,
          datetime.date(2024, 1, 2), datetime.date(2024, 1, 1))],
        "submission_id string, survey_activity string, "
        "catch_outcome string, catch_taxon string, catch_kg double, "
        "n_individuals double, weight_bucket string, n_buckets string, "
        "trip_duration double, landing_date date, submission_date date",
    ).write.parquet(src)
    df = val.attach_taxa_bounds(spark.read.parquet(src), None)
    out = val.apply_rule_flags(df.withColumn("length", F.lit(None).cast("double")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # flag 1 fires (active, outcome 1, no taxon) alongside 13
    row = out.collect()[0]
    assert row.alert_flag == "1,13"
    # the check() companion: one aggregate pass, fixed report schema
    rep = val.rule_battery_report(
        df.withColumn("length", F.lit(None).cast("double"))
    )
    rplan = rep._jdf.queryExecution().executedPlan().toString()
    assert rplan.count("Scan parquet") == 1
    got = {r.rule: r.n_violations for r in rep.collect()}
    assert got["1"] == 1 and got["13"] == 1 and got["5"] == 0


# --- fused validation ≡ the two-stage formulation ----------------------


def _reference_validate(preprocessed, taxa_bounds=None, thresholds=None):
    """The two-stage formulation ``validate_surveys`` replaced, kept as
    the reference: stage 2 on the anti-join survivors of stage 1, a
    full-join merge of both flag stages, then an anti join of every
    flagged id."""
    t = {**val.THRESHOLDS, **(thresholds or {})}
    with_bounds = val.attach_taxa_bounds(preprocessed, taxa_bounds)
    flagged = val.apply_rule_flags(with_bounds, val.reference_rule_flags(thresholds))
    flags_stage1 = val.consolidate_flags(flagged)

    zero = F.col("catch_outcome") == "0"
    indicator_input = preprocessed.withColumn(
        "catch_kg", F.when(zero, F.lit(0.0)).otherwise(F.col("catch_kg"))
    ).withColumn(
        "catch_price", F.when(zero, F.lit(0.0)).otherwise(F.col("catch_price"))
    )
    flagged_ids = flags_stage1.filter(
        F.col("alert_flag").isNotNull()
    ).select("submission_id").distinct()
    clean_stage1 = indicator_input.filter(
        F.col("submission_id").isNotNull()
    ).join(flagged_ids, "submission_id", "left_anti")

    ind = val.trip_indicators(clean_stage1)
    price_inf = (F.col("catch_kg") == 0) & (F.col("catch_price") > 0)
    composite = ind.select(
        "submission_id",
        F.concat_ws(
            ",",
            F.when(price_inf | (F.col("price_per_kg") > t["price_kg_max"]), F.lit("8")),
            F.when(F.col("cpue") > t["cpue_max"], F.lit("9")),
            F.when(F.col("rpue") > t["rpue_max"], F.lit("10")),
            F.when((F.col("n_fishers") == 0) & (F.col("catch_outcome") == "1"),
                   F.lit("11")),
        ).alias("c"),
    ).withColumn("c", F.when(F.col("c") != "", F.col("c")))

    merged = flags_stage1.join(composite, "submission_id", "full")
    combined = F.when(
        F.col("alert_flag").isNotNull() & F.col("c").isNotNull(),
        F.concat_ws(",", F.col("alert_flag"), F.col("c")),
    ).otherwise(F.coalesce(F.col("alert_flag"), F.col("c")))
    flags = merged.select(
        "submission_id", "submission_date", combined.alias("alert_flag")
    )
    bad_ids = flags.filter(
        F.col("alert_flag").isNotNull()
    ).select("submission_id").distinct()
    clean = indicator_input.join(bad_ids, "submission_id", "left_anti")
    return val.trip_indicators(clean), flags


def _adversarial(spark, null_group: str):
    """Duplicated ids (several catch rows per trip), a NULL-id group,
    outcome "0" with a price, and trips flagged only by flags 8–11.
    ``null_group`` picks whether the NULL-id rows fire a stage-1 flag
    or would fire only a composite one."""
    rows = [
        _row("a", catch_kg=4.0, length=30.0),
        _row("a", catch_kg=6.0, length=31.0, catch_taxon="OCZ"),
        _row("b", length=30.0),
        _row("b", length=10.0),            # 3 only under the duplicate SNA bound
        _row("z0", catch_outcome="0", catch_kg=5.0, catch_price=100.0),
        _row("z1", catch_outcome="0", catch_taxon=None, length=None,
             catch_kg=None, catch_price=250.0),
        _row("p8", catch_price=30000.0),
        _row("p9", catch_kg=300.0),
        _row("p9", catch_kg=300.0),        # cpue 600/18 > 30 only summed
        _row("p10", catch_price=40000.0, catch_kg=20.0, n_fishers=1.0),
        _row("p11", n_fishers=0.0),
        _row("p8_9", catch_kg=0.0, catch_price=2e6, n_buckets=1.0),
        _row("p8_9", catch_kg=700.0, catch_price=2e6, n_buckets=1.0),
        _row("mix", weight_bucket=60.0, catch_price=90000.0),
        _row("mix", n_fishers=3.0, catch_price=90000.0),
        _row("lo", catch_price=3.0, catch_kg=0.5, trip_duration=9.0),
    ]
    if null_group == "stage1":
        rows += [
            _row(None, catch_kg=2.0),
            _row(None, catch_kg=3.0, weight_bucket=60.0),   # flag 5
        ]
    else:
        rows += [
            _row(None, catch_kg=2.0, catch_price=90000.0),  # composite 8 only
            _row(None, catch_kg=3.0, catch_price=90000.0),
        ]
    return spark.createDataFrame(rows, COLS)


def _rounded(df):
    out = []
    for r in df.collect():
        out.append(tuple(round(v, 9) if isinstance(v, float) else v for v in r))
    return sorted(out, key=repr)


@pytest.mark.parametrize(
    "null_group, thresholds, dup_bounds",
    [
        ("stage1", None, True),
        ("composite", {"price_kg_max": 40.0, "cpue_max": 0.5,
                       "rpue_max": 3.0, "max_trip_hours": 8.0}, True),
        ("composite", None, False),
    ],
)
def test_fused_validation_equals_two_stage_reference(
    spark, null_group, thresholds, dup_bounds
):
    df = _adversarial(spark, null_group)
    bounds = spark.createDataFrame(
        [("SNA", 5.0, 60.0), ("SNA", 20.0, 40.0), ("OCZ", 1.0, 10.0)],
        "catch_taxon string, min_length double, max_length_75 double",
    ) if dup_bounds else None
    want_v, want_f = _reference_validate(df, bounds, thresholds)
    got_v, got_f = val.validate_surveys(df, taxa_bounds=bounds, thresholds=thresholds)

    assert got_f.columns == want_f.columns
    assert got_v.columns == want_v.columns
    assert got_v.schema == want_v.schema
    assert sorted(got_f.collect(), key=repr) == sorted(want_f.collect(), key=repr)
    assert _rounded(got_v) == _rounded(want_v)
    # the frames above are adversarial only if they exercise every branch
    fm = {r.submission_id: r.alert_flag for r in got_f.collect()}
    assert fm[None] is not None if null_group == "stage1" else fm[None] is None
    assert None in {r.submission_id for r in got_v.collect()}
    if thresholds is None:
        assert fm["p8"] == "8" and fm["p9"] == "9" and fm["p10"] == "10"
        assert fm["p11"] == "11" and fm["p8_9"] == "8,9,10" and fm["mix"] == "5"
        assert fm["z0"] is None and fm["z1"] is None
        assert fm["b"] == ("3" if dup_bounds else None)
