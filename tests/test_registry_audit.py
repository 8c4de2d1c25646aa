"""Round-9 registry invariants (registry_audit + the staged promotion).

The oracle values of every r9 row are hash-verified by the gate
(tools/check_correctness.py, run at sf0.001/0.01/0.1 and CPUS=3 before
registration — see NOTES r9).  What pytest adds on top:

1. window arithmetic — the registry holds exactly 94 rows, the driver
   window (first 50) starts with the 15 never-driver-verified r9 rows,
   and nothing is registered twice;
2. retirement bookkeeping — every name a union row replaces is out of
   the registry dicts but importable via RETIRED_* (so the local gate
   can still verify retired rows by name);
3. md5 feature-hash twin — the engine-portable classifier feature id
   (Spark `conv(substring(md5,1,8),16,10) % dim`) equals the pure
   Python hashlib twin the driver-side fit uses, token for token;
4. fit replay — clf_model() is a pure function of the embedded
   training set: stable across calls and emitting only integer nanos;
5. registry digest — one sha256 over the served and retired tables.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import __spark_entry__
from peskas_mozambique_data_pipeline_spark import registry, registry_audit

# sha256 over the served table (order, function identity, oracle SQL) and
# the retired table; any change to either must update this deliberately.
REGISTRY_DIGEST = "6d5104651ade3160626727f8995fa6c36c699715739702e9a56d175e4caeb85a"


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def registry_digest() -> str:
    h = hashlib.sha256()
    sql = __spark_entry__.oracle_sql()
    for name, fn in __spark_entry__.queries().items():
        h.update(
            f"{name}|{fn.__module__}|{fn.__qualname__}|{_sha(sql[name])}\n".encode()
        )
    h.update(b"--retired--\n")
    for name in sorted(registry.RETIRED_QUERIES):
        fn = registry.RETIRED_QUERIES[name]
        h.update(
            f"{name}|{fn.__module__}|{fn.__qualname__}|"
            f"{_sha(registry.RETIRED_ORACLE_SQL[name])}\n".encode()
        )
    return h.hexdigest()


def test_registry_digest():
    # pins queries() order, every function identity, every oracle_sql()
    # string and the RETIRED_* maps byte for byte
    assert sorted(registry.RETIRED_QUERIES) == sorted(registry.RETIRED_ORACLE_SQL)
    assert registry_digest() == REGISTRY_DIGEST


def test_r16_window_arithmetic():
    # r16 rotation (PURE head/tail swap, no composition change): the 50
    # rows that rested through r15 (led by the r14 head: bandpairs_audit
    # …) are back in the verified head, among them the five rows
    # rewritten while outside the window, and the r15 head (led by
    # pca_cov …) rests in the tail
    names = list(registry.SPARK_QUERIES)
    assert len(names) == 100
    assert len(set(names)) == 100
    assert set(registry.ORACLE_SQL) == set(names)
    assert names[:4] == [
        "bandpairs_audit", "dedupfam_audit", "main_content_audit",
        "diff_audit",
    ]
    assert {
        "bandpairs_audit", "dedupfam_audit", "diversity_sample",
        "sketchfam_audit", "weights_audit",
    } <= set(names[:50])
    assert names[50:60] == [
        "pca_cov", "audio_fp", "corpus_card", "docmeta_audit",
        "retrieval_audit", "capsel_audit", "crawlfam_audit",
        "nearest_audit", "geofam_audit", "release_fold",
    ]


def test_r9_retirement_bookkeeping():
    replaced = {n for pair in registry_audit.AUDIT_REPLACES.values() for n in pair}
    replaced.add("dim_enrichment")
    for n in replaced:
        assert n not in registry.SPARK_QUERIES
        assert n in registry.RETIRED_QUERIES
        assert n in registry.RETIRED_ORACLE_SQL
    for union_name in registry_audit.AUDIT_REPLACES:
        assert registry.SPARK_QUERIES[union_name] is registry_audit.SPARK_QUERIES[union_name]


def test_md5_feature_hash_matches_python_twin(spark):
    from peskas_mozambique_data_pipeline_spark.operators.classifier import (
        hashed_feature,
    )

    toks = ["the", "Zanzibar", "123", "détente", "!", "a" * 50, "口語"]
    dim = registry_audit._CLF_DIM
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r["tok"]: r["f"]
        for r in df.select(
            "tok", hashed_feature(F.col("tok"), dim, "md5").alias("f")
        ).collect()
    }
    for t in toks:
        assert got[t] == registry_audit._md5_feature_py(t, dim)


def test_md5_and_xxhash_models_not_interchangeable():
    from peskas_mozambique_data_pipeline_spark.operators.classifier import (
        hashed_feature,
    )

    with pytest.raises(ValueError):
        hashed_feature(F.lit("x"), 16, "sha1")


def test_clf_model_fit_is_stable_integer_nanos():
    registry_audit.clf_model.cache_clear()
    w1, b1 = registry_audit.clf_model()
    registry_audit.clf_model.cache_clear()
    w2, b2 = registry_audit.clf_model()
    assert (w1, b1) == (w2, b2)
    assert isinstance(b1, int)
    assert all(isinstance(f, int) and isinstance(w, int) for f, w in w1)
    feats = [f for f, _ in w1]
    assert feats == sorted(feats)  # deterministic literal order in SQL
