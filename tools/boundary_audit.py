"""Rounding-boundary audit for the nano-quantized transcendental
queries (VERDICT r7 "What's wrong" #1 / Next #2).

The one known threat to the registry's hard hash signal is the
FLOOR/ROUND boundary-straddle class: a per-term quantity computed with
engine-local ``ln``/``log`` can differ by ~1 ulp between Spark's libm
and DuckDB's, and if the pre-quantization value sits within that ulp
of its rounding boundary the two engines quantize to DIFFERENT
integers and the value hash flips (the ``char_entropy`` sf0.1 incident,
fixed structurally with a log2 LUT — ``pkg/operators/text.py``).  The
remaining ln-based queries have non-integer arguments, so no LUT
exists; this audit makes near-misses OBSERVABLE before they flip a
hash.

For every audited query it computes, on DuckDB (the mathematical value
is shared between engines; cross-engine deviation is a few ulps AROUND
that value, so one engine's margin is representative):

* every pre-quantization double ``b`` (the value whose rounding the
  hash depends on),
* its distance to the nearest quantization boundary — half-integers
  for ROUND (half-up), integers for FLOOR,
* that distance expressed in ulps of ``b``.

A margin of M ulps means both engines would need a combined error of
M ulps to disagree; sequential ln-folds accumulate at most a few ulps,
so margins in the thousands are safe and margins < ~10 are the
red zone (the char_entropy flips had sub-ulp margins).

Each audit SQL replays the matching oracle's CTE chain with the final
quantization stripped; ``tests/test_gate_tools.py`` pins audit ↔
oracle agreement (re-quantizing the audited values reproduces the
oracle's scores), so the two cannot drift silently.

Usage: python tools/boundary_audit.py [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# ---------------------------------------------------------------------------
# Audit SQL: each emits rows (key VARCHAR, b DOUBLE) where b is the
# value immediately before its quantization boundary is applied.
# `kind` names the boundary: 'round' (nearest half-integer at the
# given grain) or 'floor' (nearest integer at the given grain).

# unigram_logloss: ROUND(x, 6) per doc → audit b = x (grain 1e6).
_UNIGRAM = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
model AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM model),
probs AS (SELECT token, cnt / t AS p FROM model, total)
SELECT CAST(s.doc_id AS VARCHAR) AS key,
       -SUM(ln(p)) / COUNT(*) AS b
FROM tok s JOIN probs USING (token)
GROUP BY s.doc_id
"""

# bigram_logloss: ROUND(x, 6) per doc → grain 1e6.
_BIGRAM = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
m AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2),
lc AS (SELECT w1, COUNT(*) AS c_a FROM bg GROUP BY w1)
SELECT CAST(s.doc_id AS VARCHAR) AS key,
       -SUM(ln(m.c_ab / lc.c_a)) / COUNT(*) AS b
FROM bg s JOIN m USING (w1, w2) JOIN lc USING (w1)
GROUP BY s.doc_id
"""

# term_stats / pmi branch: ROUND(ln(...), 6) per pair → grain 1e6.
_PMI = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
bg_counts AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2),
uni AS (SELECT unnest(t) AS token FROM toks),
uni_counts AS (SELECT token, COUNT(*) AS n_tok FROM uni GROUP BY token),
tot AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS t FROM uni_counts),
totb AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS nb FROM bg_counts)
SELECT c.w1 || ' ' || c.w2 AS key,
       ln((c.n_ab / nb) / ((ua.n_tok / t) * (ub.n_tok / t))) AS b
FROM bg_counts c
JOIN uni_counts ua ON c.w1 = ua.token
JOIN uni_counts ub ON c.w2 = ub.token, tot, totb
WHERE c.n_ab >= 5
"""

# term_stats / tfidf branch: ROUND(tf·ln(n/df), 6) per (doc, term)
# → grain 1e6 (audits ALL rows, not just the emitted top-3 — a
# boundary flip below rank 3 can still swap the rank-3 row in).
_TFIDF = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT CAST(tf.doc_id AS VARCHAR) || ' ' || tf.term AS key,
       tf.tf * ln(n_docs / dfreq.df_t) AS b
FROM tf JOIN dfreq USING (term), n
"""

# dsir_weights: per-token round(x·1e9) BIGINT → audit b = x (grain
# 1e9).  The final ROUND(SUM/1e9, 6) divides an EXACT BIGINT — no
# second hazard.
_DSIR = r"""
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE token <> ''),
counts AS (
  SELECT token, COUNT(*) AS c_all,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM tok2 GROUP BY token
),
tot AS (
  SELECT SUM(c_all) AS t_all, SUM(c_tgt) AS t_tgt, COUNT(*) AS vocab
  FROM counts
)
SELECT token AS key,
       ln((c_tgt + 1) / CAST(t_tgt + vocab AS DOUBLE))
       - ln(c_all / CAST(t_all AS DOUBLE)) AS b
FROM counts CROSS JOIN tot
"""

# token_drift (same class, added beyond the VERDICT list): per-token
# KL term round(x·1e9) → grain 1e9.
_DRIFT = r"""
WITH tok AS (
  SELECT lang AS grp, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
gc AS (SELECT grp, token, COUNT(*) AS c_g FROM tok GROUP BY grp, token),
gt AS (SELECT grp, CAST(SUM(c_g) AS BIGINT) AS t_g FROM gc GROUP BY grp),
ac AS (SELECT token, CAST(SUM(c_g) AS BIGINT) AS c_all FROM gc GROUP BY token),
at AS (SELECT CAST(SUM(c_all) AS BIGINT) AS t_all FROM ac)
SELECT gc.grp || ' ' || gc.token AS key,
       (gc.c_g / gt.t_g)
       * ln((gc.c_g / gt.t_g) / (ac.c_all / at.t_all)) AS b
FROM gc JOIN ac USING (token) JOIN gt USING (grp) CROSS JOIN at
"""


def _bm25_audit_sql() -> str:
    """bm25 scan/indexed tiers (both share one oracle): per (doc, term)
    FLOOR(idf·sat·1e9) → audit b = idf·sat (grain 1e9, floor kind).
    Generated from the SAME term list + (k1, b) constants as the
    registry query (imported, so they cannot desync)."""
    from peskas_mozambique_data_pipeline_spark.registry_text import (
        _BM25_TERMS,
        _BM25_TOK,
    )

    k1, b = 1.2, 0.75  # the registry defaults; pinned by the parity test
    tf_defs = ",\n         ".join(
        f"len(list_filter({_BM25_TOK}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_defs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT CAST(doc_id AS VARCHAR) || ' t{i}' AS key,\n"
        f"       ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1.0!r} / (tf{i} + {k1!r} * ({1.0 - b!r}"
        f" + {b!r} * dl / avgdl))) AS b\n"
        f"FROM base, stats WHERE tf{i} > 0"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         len({_BM25_TOK}) AS dl,
         {tf_defs}
  FROM documents
),
stats AS (
  SELECT SUM(dl) / COUNT(*) AS avgdl,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {df_defs}
  FROM base
)
{branches}
"""


# name -> (sql, grain, kind)
#
# r10 coverage note: of the eleven rows registered in round 10
# (quant_audit, seq_layout, contam_score, psl_domains, card_audit,
# lexical_audit, filter_audit, activity_audit, threshold_audit,
# lang_segment, drift_audit), only lexical_audit carries a
# transcendental (its unigram_logloss leg — audited below under that
# name; the union wraps the identical SQL).  Everything else is exact
# integer/string work or IEEE-exact div/sqrt, which both engines round
# identically — no engine-local-libm hazard, so no audit entry.
def audits() -> dict[str, tuple[str, float, str]]:
    return {
        "unigram_logloss": (_UNIGRAM, 1e6, "round"),
        "bigram_logloss": (_BIGRAM, 1e6, "round"),
        "term_stats_pmi": (_PMI, 1e6, "round"),
        "term_stats_tfidf": (_TFIDF, 1e6, "round"),
        "dsir_weights": (_DSIR, 1e9, "round"),
        "token_drift": (_DRIFT, 1e9, "round"),
        "bm25": (_bm25_audit_sql(), 1e9, "floor"),
    }


def margin(b: float, grain: float, kind: str) -> tuple[float, float]:
    """Distance of b·grain to its nearest quantization boundary,
    absolute and in ulps of b·grain."""
    x = b * grain
    frac = x - math.floor(x)
    if kind == "round":
        d = abs(frac - 0.5)
    else:  # floor: integers are the boundaries
        d = min(frac, 1.0 - frac)
    u = math.ulp(x) if x != 0 else math.ulp(1.0)
    return d, d / u


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def run_audit(sf_dir: str, names: list[str] | None = None) -> dict[str, dict]:
    con = connect(sf_dir)
    reg = audits()
    out: dict[str, dict] = {}
    for name, (sql, grain, kind) in reg.items():
        if names and name not in names:
            continue
        rows = con.execute(sql).fetchall()
        worst_key, worst_abs, worst_ulps = None, math.inf, math.inf
        for key, b in rows:
            if b is None:
                continue
            d, ulps = margin(float(b), grain, kind)
            if ulps < worst_ulps:
                worst_key, worst_abs, worst_ulps = key, d, ulps
        out[name] = {
            "n_values": len(rows),
            "grain": grain,
            "kind": kind,
            "min_margin_ulps": worst_ulps,
            "min_margin_abs": worst_abs,
            "worst_key": worst_key,
        }
    return out


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
        args = [a for a in args if a != sf_dir]
    results = run_audit(sf_dir, args or None)
    print(f"boundary audit @ {sf_dir}")
    print(f"{'query':24} {'values':>9} {'kind':>6} {'min ulps':>12} {'worst key'}")
    red = 0
    for name, r in results.items():
        flag = "  <-- RED (<10 ulps)" if r["min_margin_ulps"] < 10 else ""
        if flag:
            red += 1
        print(
            f"{name:24} {r['n_values']:>9} {r['kind']:>6} "
            f"{r['min_margin_ulps']:>12.1f} {str(r['worst_key'])[:40]}{flag}"
        )
    if "--json" in sys.argv:
        # persist margins so round-over-round drift is mechanical to
        # diff — a collapsing margin is the early warning the audit
        # exists for (act BEFORE a hash flips)
        import json

        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "boundary_margins.json",
        )
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "results": results}, f, indent=1,
                sort_keys=True,
            )
        print(f"wrote {out}")
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
