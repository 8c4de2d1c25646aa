"""Unit tests for the local verification tooling itself — the gate
must stay trustworthy (a false-green gate is worse than no gate)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, rel):
    spec = importlib.util.spec_from_file_location(name, os.path.join(HERE, rel))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_type_class_collapses_engine_families():
    cc = _load("cc_tool", "tools/check_correctness.py")
    tc = cc.type_class
    assert tc("BIGINT") == tc("bigint") == tc("HUGEINT") == "int"
    assert tc("DOUBLE") == tc("float") == tc("DECIMAL(18,3)") == "float"
    assert tc("VARCHAR") == tc("string") == tc("JSON") == "str"
    assert tc("BOOLEAN") == "bool"
    assert tc("TIMESTAMP WITH TIME ZONE") == tc("timestamp") == "ts"
    assert tc("DATE") == "date"
    assert tc("array<double>") == tc("DOUBLE[]") == "list"
    # int vs float families must NOT collapse together
    assert tc("BIGINT") != tc("DOUBLE")


def test_bench_compare_numeric_round_sort(tmp_path, capsys, monkeypatch):
    bc = _load("bc_tool", "tools/bench_compare.py")
    # exercise main(): fake repo dir with artifacts + bench_last_run;
    # lexicographic sort would pick r9 over r10 — numeric must pick r10
    for n, t in (("BENCH_r9.json", 9.0), ("BENCH_r10.json", 10.0)):
        (tmp_path / n).write_text(json.dumps({"parsed": {"queries": {"q": t}}}))
    (tmp_path / "bench_last_run.json").write_text(
        json.dumps({"queries": {"q": 1.0}})
    )
    (tmp_path / "tools").mkdir()
    monkeypatch.setattr(
        bc.os.path, "abspath", lambda p: str(tmp_path / "tools" / "x.py")
    )
    monkeypatch.setattr(sys, "argv", ["bench_compare.py"])
    assert bc.main() == 0
    out = capsys.readouterr().out
    assert "BENCH_r10.json" in out  # numeric latest, not lexicographic
    assert "BENCH_r9.json" not in out
    assert "10.00 ->   1.00" in out


def test_bench_compare_handles_unparsed_artifact(tmp_path, capsys, monkeypatch):
    bc = _load("bc_tool2", "tools/bench_compare.py")
    (tmp_path / "BENCH_r1.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "bench_last_run.json").write_text(json.dumps({"queries": {"q": 1.0}}))
    (tmp_path / "tools").mkdir()
    monkeypatch.setattr(
        bc.os.path, "abspath", lambda p: str(tmp_path / "tools" / "x.py")
    )
    monkeypatch.setattr(sys, "argv", ["bench_compare.py"])
    assert bc.main() == 0
    assert "no parsed query map" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# boundary_audit: the rounding-boundary watch for the nano-quantized
# transcendental class (VERDICT r7 Next #2).  Three layers: the
# margins themselves stay out of the red zone at the gate SF, the
# audit's replayed values reproduce the oracle's quantized outputs
# (value-level coupling), and the oracle SQL still contains the exact
# expressions the audit replays (textual tripwire — an oracle edit
# that forgets the audit fails here).

_SF01 = "/root/testdata/sf0.01"


def _ba():
    return _load("ba_tool", "tools/boundary_audit.py")


def test_boundary_audit_margins_above_red_zone():
    ba = _ba()
    results = ba.run_audit(_SF01)
    assert set(results) == {
        "unigram_logloss", "bigram_logloss", "term_stats_pmi",
        "term_stats_tfidf", "dsir_weights", "token_drift", "bm25",
    }
    for name, r in results.items():
        assert r["n_values"] > 0, name
        # < 10 ulps means a 1-ulp libm disagreement is ~10% of the way
        # to flipping the hash — the char_entropy precedent demands a
        # LUT/integer reformulation at that point (VERDICT r7 Next #2)
        assert r["min_margin_ulps"] >= 10, (name, r)


def test_boundary_audit_margin_math():
    ba = _ba()
    import math

    # round kind: boundary at half-integers of b*grain
    d, ulps = ba.margin(1.2345675, 1e6, "round")  # b*1e6 = 1234567.5
    assert d < 1e-7 and ulps < 2
    d, _ = ba.margin(1.25, 100.0, "round")  # 125.0 -> frac 0, dist .5
    assert abs(d - 0.5) < 1e-12
    # floor kind: boundary at integers
    d, ulps = ba.margin(2.0, 1.0, "floor")
    assert d == 0.0 and ulps == 0.0
    d, _ = ba.margin(2.5, 1.0, "floor")
    assert abs(d - 0.5) < 1e-12
    # ulp scaling: same absolute distance, bigger value -> fewer ulps
    _, u_small = ba.margin(1.0000001, 1e6, "round")
    _, u_big = ba.margin(1000.0000001, 1e6, "round")
    assert math.isfinite(u_small) and math.isfinite(u_big)


def test_boundary_audit_values_reproduce_oracle():
    """Re-quantizing the audited pre-boundary values yields the oracle
    scores — so the audit SQL cannot silently diverge from the oracle
    CTE chain it replays."""
    import math as _m

    from peskas_mozambique_data_pipeline_spark import registry

    def oracle_sql(name):
        # r10: unigram_logloss retired into lexical_audit; the retired
        # SQL stays importable and IS the union leg's wrapped CTE
        return registry.ORACLE_SQL.get(name) or registry.RETIRED_ORACLE_SQL[name]

    ba = _ba()
    con = ba.connect(_SF01)

    # unigram/bigram: ROUND(b, 6) == oracle cross_entropy per doc
    for qname, audit_sql in (
        ("unigram_logloss", ba._UNIGRAM),
        ("bigram_logloss", ba._BIGRAM),
    ):
        audit = {k: b for k, b in con.execute(audit_sql).fetchall()}
        oracle = con.execute(oracle_sql(qname)).fetchall()
        assert oracle
        for doc_id, _n, ce in oracle:
            assert abs(round(audit[str(doc_id)] * 1e6) / 1e6 - ce) < 2e-6, (
                qname, doc_id)

    # term_stats: pmi + tfidf branches against the union row's scores
    stats = con.execute(oracle_sql("term_stats")).fetchall()
    pmi_oracle = {(k1, k2): s for st, k1, k2, _c, s in stats if st == "pmi"}
    tfidf_oracle = {(k1, k2): s for st, k1, k2, _c, s in stats if st == "tfidf"}
    assert pmi_oracle and tfidf_oracle
    pmi_audit = {tuple(k.split(" ", 1)): b
                 for k, b in con.execute(ba._PMI).fetchall()}
    for key, s in pmi_oracle.items():
        assert abs(round(pmi_audit[key] * 1e6) / 1e6 - s) < 2e-6, key
    tfidf_audit = {tuple(k.split(" ", 1)): b
                   for k, b in con.execute(ba._TFIDF).fetchall()}
    for key, s in tfidf_oracle.items():
        assert abs(round(tfidf_audit[key] * 1e6) / 1e6 - s) < 2e-6, key

    # bm25: per-doc sum of FLOOR(b*1e9) reproduces the oracle score
    per_doc = {}
    for k, b in con.execute(ba._bm25_audit_sql()).fetchall():
        doc = k.rsplit(" ", 1)[0]
        per_doc[doc] = per_doc.get(doc, 0) + _m.floor(b * 1e9)
    oracle = con.execute(
        registry.ORACLE_SQL.get("bm25_indexed")
        or registry.RETIRED_ORACLE_SQL["bm25_indexed"]
    ).fetchall()
    assert oracle
    for doc_id, _hits, score in oracle:
        assert abs(per_doc[str(doc_id)] / 1e9 - score) < 2e-6, doc_id


def test_boundary_audit_textual_tripwire():
    """The exact transcendental expressions the audit replays must
    still appear in the oracle SQL (or the shared generator) — an
    oracle edit without a matching audit edit fails here."""
    from peskas_mozambique_data_pipeline_spark import registry

    pairs = [
        ("unigram_logloss", "-SUM(ln(p)) / COUNT(*)"),
        ("bigram_logloss", "-SUM(ln(m.c_ab / lc.c_a)) / COUNT(*)"),
        ("term_stats", "ln((c.n_ab / b) / ((ua.n_tok / t) * (ub.n_tok / t)))"),
        ("term_stats", "ln(n_docs / dfreq.df_t)"),
        ("dsir_weights", "ln((c_tgt + 1) / CAST(t_tgt + vocab AS DOUBLE))"),
        ("token_drift", "ln((gc.c_g / gt.t_g) / (ac.c_all / at.t_all))"),
        ("bm25_indexed", "ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))"),
    ]
    for qname, expr in pairs:
        sql = registry.ORACLE_SQL.get(qname) or registry.RETIRED_ORACLE_SQL[qname]
        assert expr in sql, (qname, expr)
        # a retired query's expression must also ride inside the live
        # union row that replaced it (the wrap embeds the leg verbatim)
        if qname not in registry.ORACLE_SQL:
            assert any(expr in live for live in registry.ORACLE_SQL.values()), (
                qname, expr)


def test_best_recorded_canary_is_robust_to_one_fast_outlier(tmp_path):
    """The load gate's reference is the median of the 5 fastest
    recorded canaries, not the single minimum: one unusually fast
    sample must not tighten the gate until ordinary quiet runs flag
    load-suspect (observed 2026-08-18: a 0.099 outlier vs a 0.14-0.18
    quiet cluster would have failed every clean run at 1.5x)."""
    bench = _load("bench_mod", "bench.py")
    vals = [0.099, 0.141, 0.145, 0.153, 0.162, 0.176, 0.276, 0.309]
    for i, c in enumerate(vals):
        (tmp_path / f"bench_run_{i:04d}Z.json").write_text(
            json.dumps({"canary_sec": c})
        )
    ref = bench._best_recorded_canary(str(tmp_path))
    # median of the 5 fastest [0.099, 0.141, 0.145, 0.153, 0.162]
    assert ref == 0.145
    # a quiet-cluster canary stays under tolerance; a loaded one doesn't
    assert 0.176 <= bench._CANARY_TOL * ref
    assert 0.276 > bench._CANARY_TOL * ref
    # no history -> None (caller falls back to self-reference)
    assert bench._best_recorded_canary(str(tmp_path / "empty")) is None
