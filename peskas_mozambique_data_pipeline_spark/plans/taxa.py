"""Taxa modeling plan (M2): length-weight coefficients and per-taxon
length bounds from fishbase-style snapshots.

Mirrors ``getLWCoeffs`` (R/model-taxa.R:157-236): per-taxon 0.6
quantiles of the length-weight parameters, morphology-derived length
bounds with the reference's manual per-taxon overrides, and the literal
flying-fish coefficient row union (R/preprocessing-surveys.R:255-262).

All aggregates are single hash aggregations over the (tiny) fishbase
snapshot; the outputs broadcast into the preprocessing and validation
joins, so nothing here ever shuffles the fact tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import recode
from ..operators.aggregates import exact_quantile

# catch taxon recodes applied before coefficient lookup — CLP→ANX and
# SKH→Carcharhiniformes are "more pertinent" per the reference
# (R/preprocessing-surveys.R:239-247)
TAXON_RECODE = {"TUN": "TUS", "SKH": "CVX", "CLP": "ANX"}

# literal flying-fish coefficients the reference appends because
# fishbase lacks area-51 FLY rows (R/preprocessing-surveys.R:255-262)
FLY_COEFFS = ("FLY", 0, 0.00631, 3.05)

# measurement-type filters: keep only the length type the survey
# records for these taxa (R/model-taxa.R:186-189)
_TYPE_RULES = [("PEZ", "TL"), ("OCZ", "ML"), ("IAX", "TL")]


def recode_catch_taxon(df: DataFrame, col: str = "catch_taxon") -> DataFrame:
    """Apply the reference's taxon recodes (P8 recode map)."""
    return df.withColumn(col, recode(col, TAXON_RECODE, default=F.col(col)))


def lw_coeffs(length_weight: DataFrame, include_fly: bool = True) -> DataFrame:
    """Per-taxon length-weight coefficients (R/model-taxa.R:185-201).

    Input columns: ``a3_code, type, a, b`` (fishbase length-weight
    snapshot).  Output: ``catch_taxon, n, a_6, b_6`` — the 0.6 type-7
    quantile of each parameter — plus the literal FLY row.
    """
    filtered = length_weight
    for taxon, keep_type in _TYPE_RULES:
        filtered = filtered.filter(
            ~((F.col("a3_code") == taxon) & (F.col("type") != keep_type))
        )
    agg = (
        filtered.groupBy("a3_code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_quantile("a", 0.6).alias("a_6"),
            exact_quantile("b", 0.6).alias("b_6"),
        )
        .select(F.col("a3_code").alias("catch_taxon"), "n", "a_6", "b_6")
    )
    if include_fly:
        fly = agg.sparkSession.createDataFrame(
            [FLY_COEFFS], "catch_taxon string, n bigint, a_6 double, b_6 double"
        )
        agg = agg.unionByName(fly)
    return agg


def taxa_bounds(morphology: DataFrame) -> DataFrame:
    """Per-taxon length bounds for validation flags 3/4
    (R/model-taxa.R:204-233).

    Input columns: ``a3_code, CommonLength, Length, Weight``.  Output:
    ``catch_taxon, n, min_length, max_length_75, max_weightkg_75``.

    min_length is made permissive (−75% of the fishbase common-length
    minimum); manual overrides pin IAX's max at 100 and the min for
    OCZ/IAX (15), PEZ (5) and COZ (2).
    """
    agg = morphology.groupBy("a3_code").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("CommonLength").alias("_min_cl"),
        exact_quantile("Length", 0.95).alias("max_length_75"),
        (exact_quantile("Weight", 0.75) / 1000.0).alias("max_weightkg_75"),
    )
    min_permissive = F.col("_min_cl") - 0.75 * F.col("_min_cl")
    return agg.select(
        F.col("a3_code").alias("catch_taxon"),
        "n",
        F.when(F.col("a3_code").isin("OCZ", "IAX"), F.lit(15.0))
        .when(F.col("a3_code") == "PEZ", F.lit(5.0))
        .when(F.col("a3_code") == "COZ", F.lit(2.0))
        .otherwise(min_permissive)
        .alias("min_length"),
        F.when(F.col("a3_code") == "IAX", F.lit(100.0))
        .otherwise(F.col("max_length_75"))
        .alias("max_length_75"),
        "max_weightkg_75",
    )


def as_model_coeffs(coeffs: DataFrame) -> DataFrame:
    """Adapter: ``catch_taxon, a_6, b_6`` → the ``catch_taxon, a, b``
    shape ``preprocess.preprocess_landings`` consumes (the reference passes
    ``lwcoeffs$lw`` straight into ``calculate_catch_lurio``,
    R/preprocessing-surveys.R:264-266)."""
    return coeffs.select(
        "catch_taxon", F.col("a_6").alias("a"), F.col("b_6").alias("b")
    )


def lw_coeffs_with_overrides(
    length_weight: DataFrame,
    overrides: DataFrame | None = None,
) -> DataFrame:
    """Coefficients with manual per-taxon overrides applied on top.

    ``overrides`` columns: ``catch_taxon, a_6, b_6`` — non-NULL override
    values win over the modeled quantiles (broadcast left join +
    coalesce, the J4/P7 pattern).
    """
    base = lw_coeffs(length_weight)
    if overrides is None:
        return base
    ov = overrides.select(
        "catch_taxon",
        F.col("a_6").alias("_ov_a"),
        F.col("b_6").alias("_ov_b"),
    )
    return (
        base.join(F.broadcast(ov), "catch_taxon", "left")
        .select(
            "catch_taxon",
            "n",
            F.coalesce(F.col("_ov_a"), F.col("a_6")).alias("a_6"),
            F.coalesce(F.col("_ov_b"), F.col("b_6")).alias("b_6"),
        )
    )
