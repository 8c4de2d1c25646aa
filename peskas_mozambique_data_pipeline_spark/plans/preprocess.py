"""Preprocessing plan: raw wide Kobo survey → long catch records
enriched with dimensions and model-derived catch weight.

Mirrors the reference entry point ``preprocess_landings_lurio``
(R/preprocessing-surveys.R:30-332).  The reference cuts general, trip,
catch and market frames out of ONE wide submission table and merges
them back with ``purrr::reduce(full_join, by = "submission_id")``
(R/preprocessing-surveys.R:286-293).  Every one of those frames is a
projection of the same raw row, so here the merge is one projection:

raw (all-string, ``group_*/``-prefixed, indexed repeat-group columns)
  → trip-level columns + ``explode_outer`` of the row's catch records
  → LW catch model (M1, broadcast coefficients)
  → dimension enrichment (J1, broadcast).

The reference's regex-driven ``pivot_longer`` and per-row loops (the
repeat-group melt and the length-frequency expansion) become a per-row
array of catch records built at plan time: one scan of ``raw``, no
shuffle, no join on the submission id.  A NULL ``submission_id`` keeps
its one row and its catch, as R's ``full_join`` matches NA to NA, and
a duplicated id gives one row set per raw row.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import coalesce_cols, recode, row_sum, strip_suffix_underscores
from ..functions.strings import normalize_name, title_case_clean
from ..operators.joins import enrich

HABITAT_MAP = {
    "1": "Reef",
    "2": "Mangrove",
    "3": "Seagrass",
    "4": "Sand",
    "5": "Rock",
    "6": "Pelagic",
    "7": "Estuary",
}

# length-class midpoints for the catch model (reference recodes bin
# labels to midpoints, R/preprocessing-surveys.R:573-587)
def bin_midpoint(length_range: Column) -> Column:
    lo = F.split(length_range, "_").getItem(0).cast("double")
    hi = F.split(length_range, "_").getItem(1).cast("double")
    return (
        F.when(length_range.startswith("over"), F.regexp_extract(length_range, r"over(\d+)", 1).cast("double") + 2.5)
        .otherwise((lo + hi) / 2.0)
    )


def _group(name: str):
    """Accessor for the ``group_<name>/`` family of raw columns."""
    return lambda c: F.col(f"group_{name}/{c}")


def trip_columns(raw: DataFrame) -> list[Column]:
    """The trip-level columns, read from their ``group_*/`` names:
    general (R/preprocessing-surveys.R:76-136), effort (:138-193) and
    market (:269-284) attributes of one submission."""
    g, t, m = _group("general"), _group("trip"), _group("market")
    gps = F.split(g("location_coordinates"), " ")
    # optional site keys for the composite dim_sites join (J1 composite
    # key, R/preprocessing-surveys.R:1009-1012) — survey-form dependent
    sites = [g(c).alias(c) for c in ("site_code", "gaul_2_code")
             if f"group_general/{c}" in raw.columns]
    return [
        F.col("submission_id"),
        *sites,
        F.to_timestamp(g("landing_date")).alias("landing_date"),
        F.to_timestamp(g("today")).alias("submission_date"),
        normalize_name(g("enumerator")).alias("enumerator"),
        title_case_clean(
            coalesce_cols(g("district_palma"), g("district_mocimboa"), g("district"))
        ).alias("district"),
        g("survey_activity").alias("survey_activity"),
        g("catch_outcome").alias("catch_outcome"),
        gps.getItem(0).cast("double").alias("lat"),
        gps.getItem(1).cast("double").alias("lon"),
        t("trip_duration").cast("double").alias("trip_duration"),
        row_sum(
            strip_suffix_underscores(t("no_men_fishers")),
            strip_suffix_underscores(t("no_women_fishers")),
            strip_suffix_underscores(t("no_child_fishers")),
        ).alias("n_fishers"),
        t("gear_type").alias("gear_type"),
        recode(t("habitat"), HABITAT_MAP, default=F.lit(None)).alias("habitat"),
        coalesce_cols(t("hook_size"), t("hook_size_other")).alias("hook_size"),
        t("boat_reg_no").alias("boat_reg_no"),
        t("pds_imei").alias("pds_imei"),
        coalesce_cols(
            m("catch_price").cast("double"), m("total_catch_value").cast("double")
        ).alias("catch_price"),
        m("catch_use").alias("catch_use"),
    ]


def _species_columns(raw: DataFrame) -> dict[int, dict[str, str]]:
    """Discover indexed repeat-group columns ``group_species/<n>/<var>``
    at plan-build time (the reference greps names at run time,
    R/preprocessing-surveys.R:486)."""
    found: dict[int, dict[str, str]] = {}
    for c in raw.columns:
        m = re.match(r"^group_species/(\d+)/(.+)$", c)
        if m:
            found.setdefault(int(m.group(1)), {})[m.group(2)] = c
    return found


def catch_records(raw: DataFrame) -> Column:
    """The row's catch records as one array (R1/R3/R4), per
    ``group_species/<n>/`` repeat group:

    * a group whose fields are all NULL gives none
      (R/preprocessing-surveys.R:489-508);
    * a group with any length bin set gives one record per non-NULL,
      non-zero bin (R/preprocessing-surveys.R:572, the
      ``stack_length_bins(drop_zero=True)`` rule);
    * a group with no bins gives ONE record with NULL ``length_range``
      and ``count``, e.g. a bucket-only estimate
      (R/survey-reshaping.R:193-201).

    A bin's ``length`` is its class midpoint, or the MEASURED
    ``fish_length_overNN`` value for an ``overNN`` bin when one was
    recorded (R/preprocessing-surveys.R:580-587).  ``array_repeat(record,
    0 | 1)`` keeps a candidate record, so the array stays codegen'd.

    The records run last-first: bin-less groups, then bins, each from
    the last group back.  Validation sums a submission's rows in row
    order, so the order fixes the bits of its float totals; this one
    keeps them equal to the earlier join-based plan's."""
    groups = _species_columns(raw)
    if not groups:
        raise ValueError("no group_species/<n>/ columns found")
    var_names = sorted({v for cols in groups.values() for v in cols})
    overs = [v for v in var_names if v.startswith("fish_length_over")]
    none_s, none_d = F.lit(None).cast("string"), F.lit(None).cast("double")
    binned, unbinned = [], []
    for n, cols in sorted(groups.items()):
        def field(v: str) -> Column:
            return F.col(cols[v]) if v in cols else none_s

        head = [F.lit(n).alias("n_catch"), *[field(v).alias(v) for v in (
            "selected_species", "collection_type", "n_buckets", "weight_bucket",
            "catch_estimate",
        )]]

        def record(cond: Column, length_range: Column, length: Column, count: Column):
            rec = F.struct(
                *head,
                length_range.alias("length_range"),
                length.alias("length"),
                count.alias("count"),
            )
            return F.array_repeat(rec, cond.cast("int"))

        has_bins = F.lit(False)
        for v in (v for v in var_names if v.startswith("no_individuals_")):
            count = field(v)
            has_bins = has_bins | count.isNotNull()
            label = F.lit(v.removeprefix("no_individuals_"))
            length = bin_midpoint(label)
            for o in overs:
                nn = re.search(r"over_?(\d+)", o)
                if nn:
                    measured = field(o).cast("double")
                    length = F.when(
                        (F.regexp_extract(label, r"over_?(\d+)", 1) == nn.group(1))
                        & measured.isNotNull(),
                        measured,
                    ).otherwise(length)
            nonzero = F.coalesce(count.cast("double") != 0, F.lit(True))
            binned.append(record(
                count.isNotNull() & nonzero, label, length, count.cast("double")
            ))
        any_set = F.lit(False)
        for v in var_names:
            any_set = any_set | field(v).isNotNull()
        unbinned.append(record(any_set & ~has_bins, none_s, none_d, none_d))
    return F.concat(*reversed(binned + unbinned))


def preprocess_landings(
    raw: DataFrame,
    lw_coeffs: DataFrame,
    dim_gear: DataFrame | None = None,
    dim_taxa: DataFrame | None = None,
    dim_sites: DataFrame | None = None,
) -> DataFrame:
    """Full preprocessing DAG (E1): one projection of ``raw``.

    Catch rows are the grain.  Each raw row gives its trip-level
    columns once per catch record, or once with NULL catch columns when
    it has none (``explode_outer``).  The LW coefficients and the small
    dims broadcast-enrich (J1), so ``raw`` is scanned once and nothing
    shuffles.
    """
    trips = raw.select(*trip_columns(raw), F.explode_outer(catch_records(raw)).alias("_c"))
    trip_cols = trips.columns[:-1]
    with_coeffs = trips.select(*trip_cols, "_c.*").join(
        F.broadcast(lw_coeffs.select(
            F.col("catch_taxon").alias("selected_species"), "a", "b",
        )),
        "selected_species",
        "left",
    )
    # octopus: total length to mantle length before the power law
    model_length = F.when(
        F.col("selected_species") == "OCZ", F.col("length") / 5.5
    ).otherwise(F.col("length"))
    modeled = F.col("a") * F.pow(model_length, F.col("b")) * F.col("count") / 1000.0
    bucket_est = F.col("n_buckets").cast("double") * F.col("weight_bucket").cast("double")
    direct = F.when(F.col("collection_type") == "3", F.col("catch_estimate").cast("double"))
    # catch_outcome == "0" zeroes the catch (R/preprocessing-surveys.R:1251-1257)
    catch_kg = F.when(F.col("catch_outcome") == "0", F.lit(0.0)).otherwise(
        F.coalesce(direct, modeled, bucket_est)
    )
    out = with_coeffs.select(
        *trip_cols,
        "n_catch",
        F.col("selected_species").alias("catch_taxon"),
        "length_range",
        "length",
        F.col("count").alias("n_individuals"),
        F.col("n_buckets").cast("double").alias("n_buckets"),
        F.col("weight_bucket").cast("double").alias("weight_bucket"),
        catch_kg.alias("catch_kg"),
    )
    dims = []
    if dim_gear is not None:
        dims.append((
            dim_gear.select(F.col("survey_label").alias("gear_type"),
                            F.col("standard_name").alias("gear")),
            "gear_type",
        ))
    if dim_taxa is not None:
        dims.append((
            dim_taxa.select(F.col("survey_label").alias("catch_taxon"),
                            "scientific_name", "english_name"),
            "catch_taxon",
        ))
    if dim_sites is not None:
        # composite join key (site_code, gaul_2_code) —
        # R/preprocessing-surveys.R:1009-1012
        dims.append((
            dim_sites.select("site_code", "gaul_2_code", "site"),
            ["site_code", "gaul_2_code"],
        ))
    return enrich(out, dims) if dims else out
