"""Data-quality expectations (operators/expectations.py): one-scan
report counts vs python, NULL-counts-as-violation semantics, per-row
annotation, quarantine split, uniqueness/referential checks, plan
shape (single scan for row-local rules)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.operators import expectations as dq


def _fixture(spark):
    rows = [
        # (id, price, qty, status, ref)
        (1, 10.0, 5, "open", "a"),
        (2, -3.0, 2, "open", "b"),      # price violation
        (3, None, 1, "closed", "a"),    # price NULL -> violation
        (4, 7.0, -1, "closed", "zz"),   # qty violation + bad ref
        (5, 2.0, 0, "weird", "b"),      # status violation
        (5, 2.0, 0, "open", "a"),       # duplicate id 5
    ]
    return spark.createDataFrame(
        rows, "id long, price double, qty long, status string, ref string"
    )


def _rules():
    # built lazily: Column construction needs an active SparkContext
    return [
        dq.expect("price_positive", F.col("price") > 0),
        dq.expect("qty_nonneg", F.col("qty") >= 0),
        dq.expect("status_known", F.col("status").isin("open", "closed")),
    ]


def test_check_counts_match_python_and_nulls_violate(spark):
    rep = {r.rule: r for r in dq.check(_fixture(spark), _rules()).collect()}
    assert rep["price_positive"].n_violations == 2  # -3 and NULL
    assert rep["qty_nonneg"].n_violations == 1
    assert rep["status_known"].n_violations == 1
    assert all(r.n_rows == 6 and r.kind == "row" for r in rep.values())
    assert rep["price_positive"].frac == round(2 / 6, 6)


def test_annotate_and_quarantine_split(spark):
    df = _fixture(spark)
    ann = {
        (r.id, r.status): sorted(r.violations)
        for r in dq.annotate(df, _rules()).collect()
    }
    assert ann[(1, "open")] == []
    assert ann[(2, "open")] == ["price_positive"]
    assert ann[(3, "closed")] == ["price_positive"]
    assert ann[(4, "closed")] == ["qty_nonneg"]
    assert ann[(5, "weird")] == ["status_known"]
    clean, bad = dq.quarantine_split(df, _rules())
    assert clean.count() == 2  # id 1 and the duplicate clean id 5
    assert "violations" not in clean.columns
    assert bad.count() == 4 and "violations" in bad.columns


def test_unique_and_referential(spark):
    df = _fixture(spark)
    u = dq.expect_unique(df, ["id"]).first()
    assert u.n_violations == 2  # both copies of id 5
    assert u.kind == "unique" and u.n_rows == 6
    dim = spark.createDataFrame([("a",), ("b",)], "k string")
    r = dq.expect_in_dim(df, "ref", dim, "k").first()
    assert r.n_violations == 1 and r.kind == "referential"
    # NULL refs violate too
    with_null = df.withColumn(
        "ref", F.when(F.col("id") == 1, F.lit(None)).otherwise(F.col("ref"))
    )
    assert dq.expect_in_dim(with_null, "ref", dim, "k").first().n_violations == 2


def test_full_report_unions_fixed_schema(spark):
    dim = spark.createDataFrame([("a",), ("b",)], "k string")
    rep = dq.full_report(
        _fixture(spark),
        rules=_rules(),
        unique_keys=[["id"]],
        dims=[("ref", dim, "k")],
    )
    rows = rep.collect()
    assert len(rows) == 5
    assert rep.columns == ["rule", "kind", "n_violations", "n_rows", "frac"]
    assert {r.kind for r in rows} == {"row", "unique", "referential"}


def test_row_rules_are_one_scan_and_guards(spark):
    df = _fixture(spark)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dq.check(df, _rules()).explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]  # node tree, before details
    # every row-local rule folds into ONE aggregate over ONE scan —
    # no per-rule union re-executing the source
    assert tree.count("Scan ") == 1, tree
    assert tree.count("HashAggregate") <= 2, tree  # partial + final
    with pytest.raises(ValueError, match="at least one rule"):
        dq.check(df, [])
    with pytest.raises(ValueError, match="duplicate rule names"):
        r0 = _rules()[0]
        dq.check(df, [r0, r0])


def test_check_empty_frame_reports_zero_not_null(spark):
    # ADVICE r13: SUM over zero rows is NULL — an empty global input
    # (e.g. an empty micro-batch feeding the DQ ledger) must report
    # n_violations = 0 with n_rows = 0, never NULL counts.
    empty = spark.createDataFrame(
        [], "id long, price double, qty long, status string, ref string"
    )
    rows = dq.check(empty, _rules()).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n_violations == 0 and r.n_rows == 0 and r.frac == 0.0


def test_annotate_lists_every_failed_rule_and_report_matches_parts(spark):
    df = _fixture(spark).unionByName(
        spark.createDataFrame(
            [(7, -1.0, -2, "weird", "a")],  # fails all three rules
            "id long, price double, qty long, status string, ref string",
        )
    )
    ann = {r.id: r.violations for r in dq.annotate(df, _rules()).collect()}
    assert ann[7] == ["price_positive", "qty_nonneg", "status_known"]
    assert ann[1] == []
    dim = spark.createDataFrame([("a",), ("b",)], "k string")
    rep = {
        r.rule: r.n_violations
        for r in dq.full_report(
            df, rules=_rules(), unique_keys=[["id"]], dims=[("ref", dim, "k")]
        ).collect()
    }
    parts = [
        dq.check(df, _rules()),
        dq.expect_unique(df, ["id"]),
        dq.expect_in_dim(df, "ref", dim, "k"),
    ]
    assert rep == {r.rule: r.n_violations for p in parts for r in p.collect()}
    assert rep["price_positive"] == 3 and rep["unique(id)"] == 2
