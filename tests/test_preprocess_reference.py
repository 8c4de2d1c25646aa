"""``preprocess_landings`` (one projection of ``raw``) ≡ the join
formulation it replaced: four frames cut from the raw table, an N-ary
full join on ``submission_id``, the catch frame left-joined in, and
the length bins melted by a union of a ``stack`` Expand and a
passthrough branch.  The two agree, schema included, whenever the
non-NULL ids are unique; a NULL or duplicated id is pinned separately."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.functions.columns import (
    coalesce_cols,
    recode,
    row_sum,
    strip_suffix_underscores,
)
from peskas_mozambique_data_pipeline_spark.functions.strings import (
    normalize_name,
    title_case_clean,
)
from peskas_mozambique_data_pipeline_spark.operators.joins import enrich, nary_full_join
from peskas_mozambique_data_pipeline_spark.operators.reshape import (
    rename_by_regex,
    stack_length_bins,
)
from peskas_mozambique_data_pipeline_spark.plans import preprocess as pre
from tests.test_pipeline import RAW_COLS, _row, lw_coeffs, raw  # noqa: F401


def _reference_preprocess(raw, lw_coeffs, dim_sites=None):
    """The join formulation, kept as the reference."""
    g = rename_by_regex(raw, r"^group_general/")
    gps = F.split(F.col("location_coordinates"), " ")
    site_cols = [c for c in ("site_code", "gaul_2_code") if c in g.columns]
    general = g.select(
        "submission_id",
        *site_cols,
        F.to_timestamp("landing_date").alias("landing_date"),
        F.to_timestamp("today").alias("submission_date"),
        normalize_name("enumerator").alias("enumerator"),
        title_case_clean(coalesce_cols("district_palma", "district_mocimboa", "district")).alias(
            "district"
        ),
        F.col("survey_activity"),
        F.col("catch_outcome"),
        gps.getItem(0).cast("double").alias("lat"),
        gps.getItem(1).cast("double").alias("lon"),
    )
    t = rename_by_regex(raw, r"^group_trip/")
    trip = t.select(
        "submission_id",
        F.col("trip_duration").cast("double").alias("trip_duration"),
        row_sum(
            strip_suffix_underscores("no_men_fishers"),
            strip_suffix_underscores("no_women_fishers"),
            strip_suffix_underscores("no_child_fishers"),
        ).alias("n_fishers"),
        F.col("gear_type"),
        recode("habitat", pre.HABITAT_MAP, default=F.lit(None)).alias("habitat"),
        coalesce_cols("hook_size", "hook_size_other").alias("hook_size"),
        F.col("boat_reg_no"),
        F.col("pds_imei"),
    )
    m = rename_by_regex(raw, r"^group_market/")
    market = m.select(
        "submission_id",
        coalesce_cols(
            F.col("catch_price").cast("double"),
            F.col("total_catch_value").cast("double"),
        ).alias("catch_price"),
        F.col("catch_use"),
    )

    # repeat-group melt: one row per non-empty species group
    groups: dict[int, dict[str, str]] = {}
    for c in raw.columns:
        mm = re.match(r"^group_species/(\d+)/(.+)$", c)
        if mm:
            groups.setdefault(int(mm.group(1)), {})[mm.group(2)] = c
    var_names = sorted({v for cols in groups.values() for v in cols})
    structs = [
        F.struct(F.lit(n).alias("n_catch"), *[
            (F.col(cols[v]) if v in cols else F.lit(None).cast("string")).alias(v)
            for v in var_names
        ])
        for n, cols in sorted(groups.items())
    ]
    long = raw.select(
        "submission_id", F.explode(F.array(*structs)).alias("_g")
    ).select("submission_id", "_g.*")
    non_null = None
    for v in var_names:
        c = F.col(v).isNotNull()
        non_null = c if non_null is None else (non_null | c)
    long = long.filter(non_null)

    # length bins: stacked groups ∪ passthrough groups with no bins
    bin_cols = [c for c in long.columns if c.startswith("no_individuals_")]
    over_cols = [c for c in long.columns if c.startswith("fish_length_over")]
    keep = ["submission_id", "n_catch", "selected_species", "collection_type",
            "n_buckets", "weight_bucket", "catch_estimate", *over_cols]
    has_bins = None
    for c in bin_cols:
        cond = F.col(c).isNotNull()
        has_bins = cond if has_bins is None else (has_bins | cond)
    binned = stack_length_bins(long.filter(has_bins), keep, bin_cols)
    no_bins = (
        long.filter(~F.coalesce(has_bins, F.lit(False)))
        .select(*keep)
        .withColumn("length_range", F.lit(None).cast("string"))
        .withColumn("count", F.lit(None).cast("double"))
    )
    lengths = binned.withColumn("count", F.col("count").cast("double")).unionByName(no_bins)
    length_expr = pre.bin_midpoint(F.col("length_range"))
    for c in over_cols:
        mm = re.search(r"over_?(\d+)", c)
        if not mm:
            continue
        length_expr = F.when(
            (F.regexp_extract(F.col("length_range"), r"over_?(\d+)", 1) == mm.group(1))
            & F.col(c).cast("double").isNotNull(),
            F.col(c).cast("double"),
        ).otherwise(length_expr)
    lengths = lengths.withColumn("length", length_expr).drop(*over_cols)
    with_coeffs = lengths.join(
        F.broadcast(lw_coeffs.select(
            F.col("catch_taxon").alias("selected_species"), "a", "b",
        )),
        "selected_species",
        "left",
    )
    model_length = F.when(
        F.col("selected_species") == "OCZ", F.col("length") / 5.5
    ).otherwise(F.col("length"))
    modeled = F.col("a") * F.pow(model_length, F.col("b")) * F.col("count").cast("double") / 1000.0
    bucket_est = F.col("n_buckets").cast("double") * F.col("weight_bucket").cast("double")
    direct = F.when(F.col("collection_type") == "3", F.col("catch_estimate").cast("double"))
    catch = with_coeffs.select(
        "submission_id",
        "n_catch",
        F.col("selected_species").alias("catch_taxon"),
        "length_range",
        "length",
        F.col("count").cast("double").alias("n_individuals"),
        F.col("n_buckets").cast("double").alias("n_buckets"),
        F.col("weight_bucket").cast("double").alias("weight_bucket"),
        F.coalesce(direct, modeled, bucket_est).alias("catch_kg"),
    )

    out = nary_full_join([general, trip, market], "submission_id").join(
        catch, "submission_id", "left"
    )
    out = out.withColumn(
        "catch_kg",
        F.when(F.col("catch_outcome") == "0", F.lit(0.0)).otherwise(F.col("catch_kg")),
    )
    if dim_sites is None:
        return out
    return enrich(out, [(
        dim_sites.select("site_code", "gaul_2_code", "site"),
        ["site_code", "gaul_2_code"],
    )])


def _schema(extra=()):
    return ", ".join(f"`{c}` string" for c in [*RAW_COLS, *extra])


def _assert_same(got, want):
    # names, order and types; a join made every column nullable, while
    # the projection declares the never-NULL ``n_fishers`` (an NA-skipping
    # row sum) non-nullable.  A parquet write makes every column
    # nullable, so the zone files are the same either way.
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert {f.name for f in got.schema if not f.nullable} <= {"n_fishers"}
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_equals_join_formulation_on_pipeline_fixture(raw, lw_coeffs):  # noqa: F811
    # all-NA group (s3), bucket-only (s7), octopus (s2), outcome "0" (s3)
    _assert_same(pre.preprocess_landings(raw, lw_coeffs), _reference_preprocess(raw, lw_coeffs))


def test_equals_join_formulation_on_edge_groups(spark, lw_coeffs):  # noqa: F811
    rows = [
        # every bin "0": the group gives no record
        _row("z", **{"group_species/1/no_individuals_5_10": "0",
                     "group_species/1/no_individuals_10_15": "0"}),
        # one zero bin beside a set one
        _row("zz", **{"group_species/1/no_individuals_10_15": "0"}),
        # direct estimate: collection_type "3"
        _row("d", **{"group_species/1/collection_type": "3",
                     "group_species/1/catch_estimate": "12.5",
                     "group_species/1/no_individuals_5_10": None}),
        # a second group with bins in both classes, outcome "0"
        _row("two", **{"group_species/2/selected_species": "SNA",
                       "group_species/2/no_individuals_5_10": "1",
                       "group_species/2/no_individuals_10_15": "3",
                       "group_general/catch_outcome": "0"}),
        # no species group at all
        _row("none", **{"group_species/1/selected_species": None,
                        "group_species/1/collection_type": None,
                        "group_species/1/no_individuals_5_10": None}),
    ]
    raw = spark.createDataFrame(rows, _schema())
    got = pre.preprocess_landings(raw, lw_coeffs)
    _assert_same(got, _reference_preprocess(raw, lw_coeffs))
    n = dict(got.groupBy("submission_id").count().collect())
    assert n == {"z": 1, "zz": 1, "d": 1, "two": 3, "none": 1}


def test_equals_join_formulation_over_length_and_sites(spark, lw_coeffs):  # noqa: F811
    extra = ["group_species/1/no_individuals_over60", "group_species/1/fish_length_over60",
             "group_general/site_code", "group_general/gaul_2_code"]
    raw = spark.createDataFrame([
        _row("ov1") + ("1", "72", "S01", "G01"),
        _row("ov2") + ("1", None, "S01", "G99"),
        _row("ov3") + ("0", "80", None, "G01"),
    ], _schema(extra))
    sites = spark.createDataFrame(
        [("S01", "G01", "Palma Beach")],
        "site_code string, gaul_2_code string, site string",
    )
    _assert_same(pre.preprocess_landings(raw, lw_coeffs),
                 _reference_preprocess(raw, lw_coeffs))
    _assert_same(pre.preprocess_landings(raw, lw_coeffs, dim_sites=sites),
                 _reference_preprocess(raw, lw_coeffs, dim_sites=sites))


def test_equals_join_formulation_on_generated_landing(spark, tmp_path):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    import datagen

    datagen.write_landing(str(tmp_path / "landing"), 300, 2, seed=5)
    raw = spark.read.parquet(str(tmp_path / "landing"))
    lw = spark.createDataFrame(list(datagen.LW_COEFFS), "catch_taxon string, a double, b double")
    _assert_same(pre.preprocess_landings(raw, lw), _reference_preprocess(raw, lw))


def test_null_and_duplicate_ids_keep_one_row_set_per_raw_row(spark, lw_coeffs):  # noqa: F811
    """A NULL id keeps its one full row and its catch (R's full_join
    matches NA to NA), where the join formulation split it into three
    half-rows and dropped its catch.  A duplicated id gives one row set
    per raw row, not the cross product of its copies."""
    raw = spark.createDataFrame(
        [_row(None), _row("dup"), _row("dup", **{"group_trip/gear_type": "gillnet"})],
        _schema(),
    )
    got = pre.preprocess_landings(raw, lw_coeffs)
    null_rows = got.filter(F.col("submission_id").isNull()).collect()
    assert len(null_rows) == 1
    r = null_rows[0]
    assert r.catch_taxon == "SNA" and r.gear_type == "handline" and r.catch_price == 50.0
    assert r.district == "Palma" and r.n_catch == 1
    assert abs(r.catch_kg - 0.02 * 7.5**2.9 * 4 / 1000) < 1e-9
    dup = sorted(r.gear_type for r in got.filter(F.col("submission_id") == "dup").collect())
    assert dup == ["gillnet", "handline"]

    # the join formulation, for the record: three half-rows with no
    # catch for the NULL id, 2³ trip rows × 2 catch rows for "dup"
    want = _reference_preprocess(raw, lw_coeffs)
    assert want.filter(F.col("submission_id").isNull()).count() == 3
    assert want.filter(F.col("submission_id").isNull() & F.col("catch_taxon").isNotNull()).count() == 0
    assert want.filter(F.col("submission_id") == "dup").count() == 16


@pytest.mark.parametrize("n_groups", [1, 3])
def test_group_count_is_plan_time(spark, lw_coeffs, n_groups):  # noqa: F811
    # the repeat groups are discovered from the column names
    base = dict(zip(RAW_COLS, _row("g")))
    cols = [c for c in RAW_COLS if not c.startswith("group_species/")]
    fields = ("selected_species", "collection_type", "n_buckets", "weight_bucket",
              "catch_estimate", "no_individuals_5_10")
    vals = [base[c] for c in cols] + ["SNA", "1", None, None, None, "2"] * n_groups
    cols += [f"group_species/{n}/{v}" for n in range(1, n_groups + 1) for v in fields]
    raw = spark.createDataFrame([tuple(vals)], ", ".join(f"`{c}` string" for c in cols))
    got = pre.preprocess_landings(raw, lw_coeffs)
    _assert_same(got, _reference_preprocess(raw, lw_coeffs))
    assert sorted(r.n_catch for r in got.collect()) == list(range(1, n_groups + 1))
