from __future__ import annotations

import pytest

import numpy as np
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.operators import dedup, similarity, text
from peskas_mozambique_data_pipeline_spark.operators.windows import (
    percent_of_group,
    top_k_with_other,
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tomorrow"
DOC_B = "completely different words about spark engines and shuffle partitions here now"


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A_NEAR), (3, DOC_B), (4, DOC_A)],
        ["doc_id", "text"],
    )


def test_exact_dup_groups(spark):
    out = dedup.exact_dup_groups(_docs(spark)).collect()
    assert len(out) == 1
    assert out[0].doc_ids == [1, 4]


def test_minhash_finds_planted_near_dup(spark):
    docs = _docs(spark)
    pairs = dedup.minhash_candidates(docs, shingle_k=3)
    verified = dedup.jaccard_verify(docs, pairs, shingle_k=3)
    got = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert (1, 4) in got and got[(1, 4)] == 1.0
    assert (1, 2) in got and 0.5 < got[(1, 2)] < 1.0
    assert (1, 3) not in got  # unrelated docs never become candidates


def test_simhash_identical_docs_distance_zero(spark):
    pairs = dedup.simhash_near_pairs(_docs(spark), max_hamming=10)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((1, 4)) == 0
    near = got.get((1, 2))
    assert near is not None and near <= 10


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b c",)], ["text"])
    out = df.select(dedup.shingles("text", k=5).alias("sh")).first()
    assert out.sh == []


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(queries, df, k=3).collect()
    v = vecs.astype("float64")
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    sims[0] = -np.inf
    expect = list(np.argsort(-sims)[:3])
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == expect


def test_lsh_topk_high_recall_on_clusters(spark):
    # two tight clusters: LSH must retrieve same-cluster neighbors
    rng = np.random.default_rng(5)
    base1, base2 = rng.normal(size=8), rng.normal(size=8)
    rows = []
    for i in range(10):
        rows.append((i, [float(x) for x in base1 + rng.normal(0, 0.01, 8)]))
    for i in range(10, 20):
        rows.append((i, [float(x) for x in base2 + rng.normal(0, 0.01, 8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(queries, df, k=3, n_planes=4, dim=8).collect()
    assert len(out) == 3
    assert all(r.neighbor_id < 10 for r in out)  # same-cluster only


def test_quality_features_and_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog, in a house!"), (2, "el perro y la casa de los gatos")],
        ["doc_id", "text"],
    )
    q = text.quality_features(df).collect()
    en = next(r for r in q if r.doc_id == 1)
    assert en.n_tokens == 8
    assert en.punct_ratio > 0
    lid = text.language_id(df).collect()
    assert next(r for r in lid if r.doc_id == 1).pred_lang == "en"
    assert next(r for r in lid if r.doc_id == 2).pred_lang == "es"


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.fingerprint for r in text.fingerprint(df).collect()}
    assert out[1] == out[2] and len(out[1]) == 4 * 32


def test_top_k_with_other_rebuckets(spark):
    df = spark.createDataFrame(
        [("n", "a", 10.0), ("n", "b", 8.0), ("n", "c", 5.0), ("n", "d", 2.0)],
        ["nation", "brand", "rev"],
    )
    out = top_k_with_other(df, ["nation"], "brand", "rev", k=2)
    got = {r.brand: r.rev for r in out.collect()}
    assert got == {"a": 10.0, "b": 8.0, "Other": 7.0}


def test_percent_of_group(spark):
    df = spark.createDataFrame([("g", 25.0), ("g", 75.0)], ["k", "v"])
    out = percent_of_group(df, ["k"], "v")
    assert sorted(r.pct for r in out.collect()) == [25.0, 75.0]


def test_ivf_topk_recall_on_clusters(spark):
    # three tight clusters; IVF with n_probe=1 must stay in-cluster
    rng = np.random.default_rng(11)
    bases = [rng.normal(size=8) * 5 for _ in range(3)]
    rows = []
    for ci, base in enumerate(bases):
        for i in range(12):
            vid = ci * 12 + i
            rows.append((vid, [float(x) for x in base + rng.normal(0, 0.05, 8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assignments, centroids = similarity.build_ivf_index(df, n_centroids=3, n_iters=2)
    # after 2 Lloyd iterations the 3 clusters separate
    sizes = sorted(r["count"] for r in assignments.groupBy("centroid_id").count().collect())
    assert sizes == [12, 12, 12]
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(queries, assignments, centroids, k=3, n_probe=1).collect()
    assert len(out) == 3
    assert all(r.neighbor_id < 12 for r in out)  # same-cluster neighbors only
    # matches brute force on the same data
    brute = similarity.cosine_topk(queries, df, k=3).collect()
    assert {r.neighbor_id for r in out} == {r.neighbor_id for r in brute}


def test_blocked_levenshtein_pairs_equals_crossjoin(spark):
    # varied-length names incl. pairs that straddle length buckets
    from peskas_mozambique_data_pipeline_spark.operators.fuzzy import (
        blocked_levenshtein_pairs,
    )

    vals = ["ana", "anna", "hannah", "hanna", "jo", "joe", "joey", "maria", "mariah"]
    names = spark.createDataFrame([(v,) for v in vals], ["name"])
    blocked = {
        (r.name, r.cand)
        for r in blocked_levenshtein_pairs(names, "name", max_dist=2).collect()
    }
    a, b = names.alias("a"), names.alias("b")
    brute = {
        (r.name, r.cand)
        for r in a.crossJoin(b)
        .select(F.col("a.name").alias("name"), F.col("b.name").alias("cand"))
        .filter(F.levenshtein("name", "cand", 2).between(0, 2))
        .collect()
    }
    assert blocked == brute
    # every ordered pair produced exactly once (right side keys on its
    # single exact length, so no dedup step is needed)
    n = blocked_levenshtein_pairs(names, "name", max_dist=2).count()
    assert n == len(blocked)


# ---------------------------------------------------------------------------
# Repetition filter + decontamination (training-data quality ops)


def test_repetition_features_crafted(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token repeated 4x
            (2, "a b c d"),          # all distinct
            (3, "x y x y x y"),      # "x y" 2-gram dominates
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert got[1].top1gram_frac == 1.0 and got[1].dup1gram_frac == 1.0
    assert got[2].top1gram_frac == 0.25 and got[2].dup1gram_frac == 0.0
    # doc 3: 2-grams = [x y, y x, x y, y x, x y] -> top "x y" 3/5
    assert abs(got[3].top2gram_frac - 0.6) < 1e-9
    assert got[3].dup2gram_frac == 1.0
    # 3-grams: [x y x, y x y, x y x, y x y] -> all duplicated
    assert got[3].dup3gram_frac == 1.0


def test_ngram_contamination_and_decontaminate(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        decontaminate,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday"),  # shares 3-grams
            (2, "completely unrelated words here now"),
            (3, "quick brown fox jumps high"),            # shares 3-grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_contamination(train, bench, n=3).collect()}
    assert got[1].contaminated and got[1].n_overlap == 2  # "the quick brown","quick brown fox"
    assert not got[2].contaminated and got[2].n_overlap == 0
    assert got[3].contaminated and got[3].n_overlap == 2  # "quick brown fox","brown fox jumps"
    clean = decontaminate(train, bench, n=3)
    assert [r.doc_id for r in clean.collect()] == [2]
    assert clean.columns == train.columns  # passthrough schema


def test_bloom_decontaminate_matches_exact_join(spark):
    """The two-phase Bloom path (scan-local prefilter + exact verify on
    positives) must be row-for-row identical to the single-phase exact
    join — the Bloom has no false negatives, and the verify strikes
    its false positives."""
    import random

    from peskas_mozambique_data_pipeline_spark.operators.text import (
        bloom_decontaminate,
        ngram_contamination,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    bench_rows = [
        (100 + i, " ".join(rng.choice(vocab) for _ in range(12)))
        for i in range(5)
    ]
    train_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(30)
    ]
    # plant guaranteed contamination: two train docs embed a benchmark
    # 5-gram verbatim
    planted = bench_rows[0][1].split()[2:7]
    train_rows[3] = (3, "pad1 " + " ".join(planted) + " pad2")
    train_rows[17] = (17, " ".join(planted))
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    train = spark.createDataFrame(train_rows, "doc_id long, text string")

    exact = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in ngram_contamination(train, bench, n=5).collect()
    }
    bloomed = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in bloom_decontaminate(
            train, bench, n=5, n_words=8, k=3
        ).collect()
    }
    assert bloomed == exact
    assert exact[3][1] and exact[17][1]  # the planted docs are caught


def test_bloom_prefilter_is_superset_of_exact_hits(spark):
    """Bloom positives must contain every exactly-contaminated doc even
    when the filter is deliberately saturated (tiny n_words forces
    false positives — errors may only point toward 'maybe')."""
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        bloom_decontaminate,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),
            (2, "nothing shared at all here"),
            (3, "gamma delta epsilon tail words"),
        ],
        "doc_id long, text string",
    )
    # n_words=1 (64 bits) saturates quickly; equivalence must still hold
    exact = {
        r.doc_id: r.n_overlap
        for r in ngram_contamination(train, bench, n=3).collect()
    }
    got = {
        r.doc_id: r.n_overlap
        for r in bloom_decontaminate(train, bench, n=3, n_words=1, k=2).collect()
    }
    assert got == exact


def test_stratified_sample_deterministic_and_weighted(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(200)],
        "doc_id long, lang string",
    )
    s1 = stratified_sample(docs, {"en": 0.5, "de": 1.0}, "lang")
    s2 = stratified_sample(docs, {"en": 0.5, "de": 1.0}, "lang")
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())  # same rows every run
    rows = {r.doc_id: r for r in s1.collect()}
    # fraction 1.0 keeps every de row with weight 1
    de_ids = [i for i in range(200) if i % 2 == 1]
    assert all(i in rows and rows[i].sample_weight == 1.0 for i in de_ids)
    en_kept = [i for i in ids1 if i % 2 == 0]
    assert 0 < len(en_kept) < 100  # strictly subsampled
    assert all(rows[i].sample_weight == 2.0 for i in en_kept)
    # different salt draws a different subset
    s3 = stratified_sample(docs, {"en": 0.5, "de": 1.0}, "lang", salt="other")
    assert sorted(r.doc_id for r in s3.collect()) != ids1
    # stratum missing from the mix drops entirely
    only_en = stratified_sample(docs, {"en": 0.5}, "lang")
    assert {r.lang for r in only_en.collect()} == {"en"}


def test_connected_components_chain_and_islands(spark):
    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        connected_components,
        duplicate_clusters,
    )

    # chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component_id for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    rolled = {r.component_id: r for r in duplicate_clusters(edges).collect()}
    assert rolled[1].n_members == 4 and rolled[1].members == "1,2,3,4"
    assert rolled[10].n_members == 2
    assert rolled[20].members == "20,21,22"


def test_connected_components_raises_without_convergence(spark):
    import pytest as _pytest

    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # a long chain cannot converge in 1 iteration
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(ValueError, match="converge"):
        connected_components(edges, max_iter=1)


@pytest.mark.parametrize("probe_every", [1, 2])
def test_connected_components_null_ids_and_input_self_loops(spark, probe_every):
    """A NULL id is a node of its own: it never takes a label and never
    gives one (``(NULL, 3)`` must not pull NULL into 3's component).
    Self-loops and repeated or reversed edges in the input are
    harmless."""
    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def cc(pairs):
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = connected_components(edges, probe_every=probe_every).collect()
        return sorted((tuple(r) for r in got), key=repr)

    assert cc([(1, 2), (None, 3), (4, None), (5, 5)]) == sorted(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 5), (None, None)], key=repr
    )
    assert cc([(1, 2), (2, 1), (1, 2), (7, 7), (3, 3), (3, 4)]) == sorted(
        [(1, 1), (2, 1), (3, 3), (4, 3), (7, 7)], key=repr
    )


def test_chunk_documents_boundaries(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 2 chunks: 0-7, 6-9
            (2, "a b c"),                               # shorter than one chunk
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.chunk_id): r for r in
           chunk_documents(docs, chunk_tokens=8, overlap=2).collect()}
    assert {(d, c) for d, c in got} == {(1, 0), (1, 1), (2, 0)}
    assert got[(1, 0)].chunk_text.split() == [f"w{i}" for i in range(8)]
    assert got[(1, 1)].chunk_text.split() == [f"w{i}" for i in range(6, 10)]
    assert got[(1, 1)].n_chunk_tokens == 4
    assert got[(2, 0)].chunk_text == "a b c" and got[(2, 0)].n_chunk_tokens == 3
    # overlap: last 2 tokens of chunk 0 open chunk 1
    assert got[(1, 0)].chunk_text.split()[-2:] == got[(1, 1)].chunk_text.split()[:2]
    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_redact_pii_patterns(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call 25-989-741-2988"),
            (2, "server 192.168.10.255 responded; account 123456789"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].redacted == "mail me at [EMAIL] or call [PHONE]"
    assert got[1].n_redactions == 2
    assert got[2].redacted == "server [IP] responded; account [NUM]"
    assert got[2].n_redactions == 2
    assert got[3].redacted == "nothing sensitive here"
    assert got[3].n_redactions == 0


def test_lsh_multi_table_recall_monotone(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }

    def recall(n_tables):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(
                queries, emb, k=5, n_planes=6, dim=64, n_tables=n_tables
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r3 = recall(1), recall(3)
    # extra independent tables can only add candidates -> recall rises
    # (absolute recall is low on these near-orthogonal random vectors;
    # the monotone improvement is the property under test)
    assert r3 >= r1
    assert r3 > 0.1


def test_lsh_multi_probe_recall_monotone(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }

    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(
                queries, emb, k=5, n_planes=6, dim=64, n_probe=n_probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    # each probe inspects one more Hamming-1 bucket per query — strictly
    # additive candidates, so recall can only rise; probing replicates
    # ONLY the query side (the corpus bucket table is untouched)
    assert r4 >= r1
    assert r4 > r1 or r1 > 0.5  # probes must actually add something here


def test_lsh_default_dials_meet_documented_recall(spark):
    """The lsh_topk DEFAULTS are the documented ≥0.5-recall operating
    point (planes=4, tables=4, probe=4 → measured 0.90 on this
    fixture, see the docstring's sweep table) — a retrieval user
    calling with no dials must not silently get the old 2–10% recall
    of a single-table single-probe 8-plane config."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(queries, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(queries, emb, k=5).collect()
    }
    assert len(got & exact) / len(exact) >= 0.5


# ---------------------------------------------------------------------------
# round 4: sequence packing / boilerplate / quality gate


def test_pack_documents_budget_and_contiguity(spark):
    # 6 docs x 40 tokens in one stratum, budget 100: packs hold
    # floor-cumsum bins of 2-3 docs and id ranges never overlap
    rows = [(i, "w " * 39 + "w", "en") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = text.pack_documents(df, budget=100).collect()
    by_pack = {r.pack_id: r for r in out}
    # tokens-before: 0,40,80,120,... -> packs 0,0,0,1,1,2
    assert by_pack[0].n_docs == 3 and by_pack[0].pack_tokens == 120
    assert by_pack[1].n_docs == 2
    assert by_pack[2].n_docs == 1
    # contiguity: id ranges partition [0..5] in order
    spans = sorted((r.first_doc, r.last_doc) for r in out)
    assert spans == [(0, 2), (3, 4), (5, 5)]


def test_pack_documents_strata_independent(spark):
    rows = [(1, "a b c", "en"), (2, "d e f", "fr")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {(r.lang): r.pack_id for r in text.pack_documents(df, budget=10).collect()}
    assert out == {"en": 0, "fr": 0}  # each stratum starts at pack 0


def test_boilerplate_sentences_finds_repeated_disclaimer(spark):
    disclaimer = "All rights reserved by the example corporation"
    rows = [
        (1, f"Unique alpha text here. {disclaimer}."),
        (2, f"Different beta content. {disclaimer}."),
        (3, f"Gamma words entirely. {disclaimer}."),
        (4, "Nothing shared in this one."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.boilerplate_sentences(df, min_docs=3, min_chars=20).collect()
    assert len(out) == 1
    assert out[0].n_docs == 3
    assert disclaimer.lower() in out[0].exemplar


def test_common_phrases_distinct_per_doc(spark):
    phrase = "one two three four five six"
    rows = [
        (1, f"{phrase} {phrase}"),  # repeated inside ONE doc: counts once
        (2, f"start {phrase} end"),
        (3, "totally different words again seven eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.common_phrases(df, k=6, min_docs=2).collect()
    exemplars = {r.exemplar for r in out}
    assert phrase in exemplars
    row = next(r for r in out if r.exemplar == phrase)
    assert row.n_docs == 2  # in-doc repetition not double-counted


def test_c4_quality_filter_rules(spark):
    good = "the quick brown fox jumps over a lazy dog and then it runs to the river bank again today " * 2
    rows = [
        (1, good),
        (2, "too short"),
        (3, "!!! ??? *** !!! ??? *** " * 10),  # punctuation soup
        (4, "zz " * 60),  # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text.c4_quality_filter(df).collect()}
    assert out[1].keep
    assert out[2].flag_too_short and not out[2].keep
    assert out[3].flag_high_punct and not out[3].keep
    assert out[4].flag_low_stopword and not out[4].keep


def test_vocab_coverage_curve_monotone_and_exact(spark):
    rows = [
        (1, "a a a a b b c d"),   # counts: a=4 b=2 c=1 d=1 (total 8)
        (2, "a b e"),             # a=5 b=3 e=1 (total 11)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.k: r for r in text.vocab_coverage(df, ks=(1, 2, 3)).collect()}
    assert out[1].covered_tokens == 5          # 'a'
    assert out[2].covered_tokens == 8          # 'a' + 'b'
    assert out[3].covered_tokens == 9          # + 'c' (ties: token ASC)
    assert all(out[k].total_tokens == 11 for k in (1, 2, 3))
    assert out[1].coverage <= out[2].coverage <= out[3].coverage


def test_cosine_pairs_pandas_matches_jvm_fold(spark):
    # the Arrow/numpy backend (one matmul per block) must select the
    # SAME pair set as the JVM zip_with/aggregate fold at the same
    # threshold — it is the measured-faster production path, while the
    # JVM fold remains the oracle path (bit-reproducible in DuckDB)
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 16)).astype("float32")
    rows = [(i, int(i % 3), [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, label int, embedding array<float>")

    arrow = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_pandas(df, "label", "id", threshold=0.2).collect()
    }
    from peskas_mozambique_data_pipeline_spark.operators.similarity import _dot, with_norm
    from peskas_mozambique_data_pipeline_spark.operators.skew import triangle_self_join

    base = with_norm(df.select("label", "id", F.col("embedding").alias("_e")), "_e", "_n")
    pairs = triangle_self_join(base, ["label"], "id", n_parts=4)
    jvm = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in pairs.select(
            "id_a", "id_b",
            (_dot(F.col("_e_a"), F.col("_e_b")) / (F.col("_n_a") * F.col("_n_b"))).alias("c"),
        ).filter(F.col("c") >= 0.2).collect()
    }
    assert arrow == jvm and len(arrow) > 0


def test_cosine_topk_pandas_matches_jvm(spark):
    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(80, 12)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(queries, df, k=4).collect()
    }
    b = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_pandas(queries, df, k=4).collect()
    }
    assert a == b and len(a) == 16


def test_jaccard_prefix_pairs_is_complete(spark):
    """Prefix filtering is lossless: the blocked join must return
    EXACTLY the brute-force pair set at the same threshold."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(30):
        words = list(base)
        # progressively mutate so pairwise Jaccard spans the threshold
        for j in range(i % 4):
            words[j] = f"uniq{i}_{j}"
        rows.append((i, " ".join(words + [f"tail{i % 3}"] * 2)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = dedup.shingle_hash_frame(docs, materialize=True)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.jaccard_prefix_pairs(hashed, threshold=0.4).collect()
    }
    all_pairs = (
        hashed.select(F.col("doc_id").alias("id_a"))
        .crossJoin(hashed.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    brute = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.jaccard_verify_hashed(hashed, all_pairs)
        .filter(F.col("jaccard") >= 0.4)
        .collect()
    }
    assert got == brute
    assert len(brute) > 0
    # both df backends (skew-safe join, single-shuffle window) produce
    # the identical pair set
    win = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.jaccard_prefix_pairs(
            hashed, threshold=0.4, df_backend="window"
        ).collect()
    }
    assert win == brute


def test_duplicated_ngram_spans_merges_runs(spark):
    shared = "one two three four five six seven eight nine ten".split()
    docs = spark.createDataFrame(
        [
            (1, " ".join(["pre1a", "pre1b"] + shared + ["post1"])),
            (2, " ".join(["pre2x"] + shared + ["post2a", "post2b"])),
            (3, "totally different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_ngram_spans(docs, n=8).collect()
    }
    # the 10 shared tokens are a run of three duplicated 8-grams:
    # doc 1 at token 3..12, doc 2 at token 2..11; doc 3 clean
    assert (1, 3, 12, 10) in spans
    assert (2, 2, 11, 10) in spans
    assert not any(s[0] == 3 for s in spans)
    assert len(spans) == 2


def test_remove_spans_rebuilds_text(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 3, 5)], "doc_id long, span_start int, span_end int"
    )
    got = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in text.remove_spans(docs, spans).collect()
    }
    # doc 1 loses tokens 3..5 (c d e); doc 2 has no spans → untouched
    assert got == {(1, "a b f g h", 3), (2, "x y z", 0)}


def test_pq_topk_recall_on_clusters(spark):
    # three tight clusters in 8-dim; PQ codes must keep ADC neighbors
    # in-cluster and match brute force on the well-separated data
    rng = np.random.default_rng(23)
    bases = [rng.normal(size=8) * 5 for _ in range(3)]
    rows = []
    for ci, base in enumerate(bases):
        for i in range(12):
            vid = ci * 12 + i
            rows.append((vid, [float(x) for x in base + rng.normal(0, 0.05, 8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, codebooks = similarity.build_pq_index(df, m=2, k=4, n_iters=2, dim=8)
    # every vector got one code per subspace
    assert codes.count() == 36 * 2
    assert codebooks.count() == 2 * 4
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.pq_topk(
        queries, codes, codebooks, k_nn=3, m=2, k=4, dim=8
    ).collect()
    assert len(out) == 3
    # PQ quantizes away within-cluster resolution (same-cluster rows
    # share codes, distances tie, ids break the tie) — the contract is
    # cluster-level recall, not exact brute-force order
    assert all(r.neighbor_id < 12 for r in out)  # same-cluster only
    brute = similarity.cosine_topk(queries, df, k=3).collect()
    assert all(r.neighbor_id < 12 for r in brute)  # brute agrees on the cluster


def test_pq_build_rejects_indivisible_dim(spark):
    import pytest

    df = spark.createDataFrame([(0, [0.0] * 7)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.build_pq_index(df, m=2, dim=7)


def test_pq_codes_deterministic_under_repartition(spark):
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1, _ = similarity.build_pq_index(df, m=2, k=4, n_iters=2, dim=8)
    c2, _ = similarity.build_pq_index(df.repartition(7), m=2, k=4, n_iters=2, dim=8)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_ivfpq_topk_composes_routing_and_codes(spark):
    # IVF routes to the query's cluster; PQ scores from codes — the
    # composed search must return same-cluster neighbors only, and its
    # candidate set must be a subset of the probed cluster
    rng = np.random.default_rng(31)
    bases = [rng.normal(size=8) * 5 for _ in range(3)]
    rows = []
    for ci, base in enumerate(bases):
        for i in range(12):
            vid = ci * 12 + i
            rows.append((vid, [float(x) for x in base + rng.normal(0, 0.05, 8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf_a, ivf_c = similarity.build_ivf_index(df, n_centroids=3, n_iters=2)
    codes, books = similarity.build_pq_index(df, m=2, k=4, n_iters=2, dim=8)
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivfpq_topk(
        queries, ivf_a, ivf_c, codes, books,
        k_nn=3, n_probe=1, m=2, k=4, dim=8,
    ).collect()
    assert len(out) == 3
    assert all(r.neighbor_id < 12 for r in out)
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]


def test_pq_codebook_stays_dense_on_degenerate_vectors(spark):
    # a CONSTANT subspace collapses every assignment onto one centroid
    # in the Lloyd mean step; the other k-1 centroids must survive
    # (retain-previous rule) so the positional ADC lookup in pq_topk
    # never indexes past the table (the r5 ADVICE crash:
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT)
    rng = np.random.default_rng(11)
    rows = [
        (i, [1.0, 2.0, 3.0, 4.0] + [float(x) for x in rng.normal(size=4)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, books = similarity.build_pq_index(df, m=2, k=4, n_iters=3, dim=8)
    # dense codebook: exactly m*k rows, every (subspace, centroid_id)
    got = sorted((r.subspace, r.centroid_id) for r in books.collect())
    assert got == [(s, c) for s in range(2) for c in range(4)]
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.pq_topk(queries, codes, books, k_nn=3, m=2, k=4, dim=8)
    assert out.count() == 3  # no crash, full top-k


def _py_bpe(word_weights: dict[str, int], n_merges: int):
    """Reference BPE: count desc, (l, r) lexicographic tie-break,
    greedy left-to-right non-overlapping application."""
    vocab = {tuple(w): c for w, c in word_weights.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, c))
        new_vocab = {}
        for syms, w in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + w
        vocab = new_vocab
    return merges


def test_bpe_merge_table_matches_reference(spark):
    corpus = [
        (1, "low low low low low"),
        (2, "lower lower widest widest widest"),
        (3, "newest newest newest newest newest newest"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            text.bpe_merge_table(df, n_merges=5).collect(), key=lambda r: r.step
        )
    ]
    weights: dict[str, int] = {}
    for _, t in corpus:
        for w in t.split():
            weights[w] = weights.get(w, 0) + 1
    assert got == _py_bpe(weights, 5)


def test_bpe_merge_application_greedy_nonoverlapping(spark):
    # 'aaaa' under merge (a,a): greedy left-to-right -> aa aa, so the
    # second merge must be (aa, aa), not (a, aa)
    df = spark.createDataFrame([(1, "aaaa aaaa aaaa")], "doc_id long, text string")
    out = sorted(text.bpe_merge_table(df, n_merges=2).collect(), key=lambda r: r.step)
    assert (out[0].left, out[0].right) == ("a", "a")
    assert out[0].pair_count == 9  # 3 occurrences per word x 3 words
    assert (out[1].left, out[1].right) == ("aa", "aa")


def test_bpe_apply_expr_segments_with_learned_merges(spark):
    # merges (l,o) then (lo,w): "low" -> [low] ... wait, chain:
    # l+o -> "lo"; lo+w -> "low": "lower" -> [low, e, r]
    df = spark.createDataFrame([(1, "lower low lowest")], "doc_id long, text string")
    seg = df.select(
        F.transform(
            text.tokens("text"),
            lambda w: text.bpe_apply_expr(w, [("l", "o"), ("lo", "w")]),
        ).alias("segs")
    ).first()
    assert seg.segs == [
        ["low", "e", "r"],
        ["low"],
        ["low", "e", "s", "t"],
    ]


def test_bpe_fertility_counts(spark):
    df = spark.createDataFrame(
        [(1, "aa aa b", "en"), (2, "aa b b", "fr")],
        "doc_id long, text string, lang string",
    )
    out = {
        r.lang: (r.n_words, r.n_subwords, r.fertility)
        for r in text.bpe_fertility(df, [("a", "a")]).collect()
    }
    # "aa" -> 1 subword after the merge, "b" -> 1
    assert out["en"] == (3, 3, 1.0)
    assert out["fr"] == (3, 3, 1.0)
    out2 = {
        r.lang: r.fertility for r in text.bpe_fertility(df, []).collect()
    }
    assert out2["en"] == round(5 / 3, 6)  # no merges: chars per word


def test_bpe_learn_merges_matches_reference_and_spark(spark):
    """The incremental driver-side trainer must match both the naive
    python reference and the distributed Spark trainer exactly."""
    corpus = [
        (1, "low low low low low"),
        (2, "lower lower widest widest widest"),
        (3, "newest newest newest newest newest newest"),
        (4, "aaaa aaaa aaaa low newest"),
    ]
    weights: dict[str, int] = {}
    for _, t in corpus:
        for w in t.split():
            weights[w] = weights.get(w, 0) + 1
    for n in (1, 3, 5, 8, 50):
        assert text.bpe_learn_merges(weights, n) == _py_bpe(weights, n), n

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    fast = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            text.bpe_merge_table_fast(df, n_merges=6).collect(),
            key=lambda r: r.step,
        )
    ]
    slow = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            text.bpe_merge_table(df, n_merges=6).collect(), key=lambda r: r.step
        )
    ]
    assert fast == slow


def test_bpe_256_merges_bounded_time(spark):
    """The r5 VERDICT ask: >=256-merge training completing in bounded
    time on real test data — impossible for the per-merge-Spark-job
    tier, routine for the incremental path."""
    import time

    # sf0.001's synthetic vocabulary exhausts its pair space below 256
    # merges, so extend it with seeded high-entropy words — the corpus
    # is still built and counted distributedly
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rng = np.random.default_rng(17)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    extra_rows = []
    for i in range(1500):
        w = "".join(rng.choice(list(alpha), size=rng.integers(4, 12)))
        extra_rows.append((100000 + i, w + " " + w[::-1]))
    extra = spark.createDataFrame(extra_rows, "doc_id long, text string")
    corpus = docs.select("doc_id", "text").unionByName(extra)
    t0 = time.time()
    merges = text.bpe_merge_table_fast(corpus, n_merges=256).collect()
    took = time.time() - t0
    assert len(merges) == 256
    assert [r.step for r in sorted(merges, key=lambda r: r.step)] == list(
        range(1, 257)
    )
    # counts must be non-increasing is NOT guaranteed for BPE (merges
    # create new pairs), but every count is positive and weighted
    assert all(r.pair_count > 0 for r in merges)
    assert took < 120, f"256 merges took {took:.0f}s"


def test_bpe_arrow_segmenter_parity_with_expr(spark):
    """Rank-based Arrow application == sequential expr application on
    a self-consistent learned table (the production apply path)."""
    corpus = [
        (1, "low low low low low lowest"),
        (2, "lower lower widest widest widest aaaa aaaa"),
        (3, "newest newest newest newest newest newest"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    learned = [
        (r.left, r.right)
        for r in sorted(
            text.bpe_merge_table_fast(df, n_merges=12).collect(),
            key=lambda r: r.step,
        )
    ]
    words = df.select(F.explode(text.tokens("text")).alias("word")).distinct()
    a = {
        r.word: list(r.seg)
        for r in words.select(
            "word", text.bpe_apply_expr(F.col("word"), learned).alias("seg")
        ).collect()
    }
    b = {
        r.word: list(r.seg)
        for r in words.select(
            "word", text.bpe_segmenter_arrow(learned)(F.col("word")).alias("seg")
        ).collect()
    }
    assert a == b and len(a) >= 6
    # fertility backends agree end-to-end
    docs = df.withColumn("lang", F.lit("en"))
    fe = text.bpe_fertility(docs, learned, backend="expr").collect()
    fa = text.bpe_fertility(docs, learned, backend="arrow").collect()
    assert sorted(map(tuple, fe)) == sorted(map(tuple, fa))


def test_containment_prefix_pairs_is_complete(spark):
    """The probe-side prefix filter is lossless for asymmetric
    containment: blocked join == brute force over ordered pairs,
    including a short doc fully contained in a long one (the case
    Jaccard misses)."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    rows = [(0, " ".join(base[:8]))]  # short doc, fully inside doc 1
    rows.append((1, " ".join(base)))  # long superset
    for i in range(2, 25):
        words = list(base)
        for j in range(i % 5):
            words[j] = f"uniq{i}_{j}"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = dedup.shingle_hash_frame(docs, materialize=True)

    got = {
        (r.id_a, r.id_b, r.containment)
        for r in dedup.containment_prefix_pairs(hashed, threshold=0.6).collect()
    }
    ha = hashed.select(F.col("doc_id").alias("id_a"), F.col("_h32").alias("h_a"))
    hb = hashed.select(F.col("doc_id").alias("id_b"), F.col("_h32").alias("h_b"))
    brute = {
        (r.id_a, r.id_b, r.c)
        for r in ha.crossJoin(hb)
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("h_a", "h_b")).cast("double")
                / F.size("h_a"),
                6,
            ).alias("c"),
        )
        .filter(F.col("c") >= 0.6)
        .collect()
    }
    assert got == brute
    assert (0, 1, 1.0) in got  # subset doc found in its superset
    assert (1, 0, 1.0) not in got  # asymmetry: the long side is not contained


def test_char_entropy_known_values(spark):
    from peskas_mozambique_data_pipeline_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),          # 0 bits
            (2, "abababab"),          # 1 bit
            (3, "abcdabcdabcdabcd"),  # 2 bits
            (4, ""),                  # empty: dropped
            (5, "x" * 600 + "y" * 600),  # prefix bound: only first 512 'x'
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_scored, r.n_distinct, r.entropy_bits)
        for r in text_ops.char_entropy(docs, max_chars=512).collect()
    }
    assert out[1] == (8, 1, 0.0)
    assert out[2] == (8, 2, 1.0)
    assert out[3] == (16, 4, 2.0)
    assert 4 not in out
    assert out[5] == (512, 1, 0.0)  # the 'y's never enter the prefix


def test_bm25_ranks_rarer_and_denser_matches_higher(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "cat dog"),            # both terms, short doc
            (2, "cat cat cat"),        # common term only, repeated
            (3, "dog filler filler filler filler filler filler"),  # rare term, long doc
            (4, "cat filler"),         # common term once
            (5, "filler filler"),      # no match -> excluded
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["cat", "dog"], k=5).collect()
    ids = [r["doc_id"] for r in out]
    assert 5 not in ids
    assert len(ids) == 4
    # doc 1 matches BOTH terms in a short doc -> best score
    assert ids[0] == 1
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_terms_hit"] == 2
    assert by_id[2]["n_terms_hit"] == 1
    # saturation: tf=3 in doc 2 must not triple doc 4's tf=1 score
    # (same term, k1 bounds the tf contribution)
    assert by_id[2]["score"] < 3 * by_id[4]["score"]


# ---------------------------------------------------------------------------
# tokenizer_fertility — direct operator coverage (its registry row was
# consolidated into bpe_fertility's rotation slot in round 7; the
# operator itself stays first-class).


def test_tokenizer_fertility_per_stratum(spark):
    df = spark.createDataFrame(
        [
            # "hello, world" -> ws 2 tokens; bpe-ish: hello , world = 3
            (1, "en", "hello, world"),
            # "abc123" -> ws 1; bpe-ish: abc 123 = 2
            (2, "en", "abc123"),
            # pure words: fertility exactly 1.0
            (3, "pt", "ola mundo"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in text.tokenizer_fertility(df, strata_col="lang").collect()}
    assert out["en"].n_docs == 2
    assert out["en"].ws_tokens == 3
    assert out["en"].bpe_tokens == 5
    assert out["en"].fertility == round(5 / 3, 6)
    assert out["pt"].ws_tokens == 2
    assert out["pt"].bpe_tokens == 2
    assert out["pt"].fertility == 1.0


def test_bpe_fast_min_count_prunes_tail_with_unchanged_top_merges(spark):
    # heavy-tailed corpus: a few dominant words + a long singleton
    # tail.  min_count prunes the tail below the max_vocab bound and
    # the learned top merges are identical to the unpruned run.
    head = [(i, "lower lower lower newest newest") for i in range(1, 4)]
    # 40 distinct singleton words (single CJK chars: no shared pairs,
    # so the tail carries vocab bulk but negligible pair mass)
    tail = [(100 + i, chr(0x4E00 + i)) for i in range(40)]
    df = spark.createDataFrame(head + tail, "doc_id long, text string")
    full = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            text.bpe_merge_table_fast(df, n_merges=4).collect(),
            key=lambda r: r.step,
        )
    ]
    # max_vocab=10 < 42 distinct words: the unpruned path must refuse…
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_count"):
        text.bpe_merge_table_fast(df, n_merges=4, max_vocab=10)
    # …while min_count=2 trains under the same bound, tail gone
    pruned = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            text.bpe_merge_table_fast(
                df, n_merges=4, max_vocab=10, min_count=2
            ).collect(),
            key=lambda r: r.step,
        )
    ]
    assert pruned == full


def test_bm25_indexed_matches_scan_local_tier(spark):
    docs = [
        (1, "cat dog"),
        (2, "cat cat cat"),
        (3, "dog filler filler filler filler filler filler"),
        (4, "cat filler"),
        (5, "filler filler"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # duplicate query term: both tiers must weight it with multiplicity
    terms = ["cat", "dog", "cat"]
    scan = sorted(
        (r.doc_id, r.n_terms_hit, r.score)
        for r in text.bm25_topk(df, terms, k=10).collect()
    )
    indexed = sorted(
        (r.doc_id, r.n_terms_hit, r.score)
        for r in text.bm25_topk_indexed(df, terms, k=10).collect()
    )
    assert scan == indexed and len(scan) == 4


def test_deterministic_shuffle_is_dense_reproducible_and_well_mixed(spark):
    from peskas_mozambique_data_pipeline_spark.operators.curation import (
        deterministic_shuffle,
        ordering_mix_audit,
    )

    # 300 docs in 3 contiguous source blocks — maximally clumped input
    rows = [(i, ["a", "b", "c"][i // 100]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = deterministic_shuffle(df, "doc_id", salt="epoch0", n_parts=4)
    got = out.select("doc_id", "shuffle_pos").collect()
    # dense permutation of [0, 300)
    assert sorted(r.shuffle_pos for r in got) == list(range(300))
    # reproducible bit-identically
    again = deterministic_shuffle(df, "doc_id", salt="epoch0", n_parts=4)
    assert {(r.doc_id, r.shuffle_pos) for r in again.collect()} == {
        (r.doc_id, r.shuffle_pos) for r in got
    }
    # a different salt is a different permutation
    other = deterministic_shuffle(df, "doc_id", salt="epoch1", n_parts=4)
    assert {(r.doc_id, r.shuffle_pos) for r in other.collect()} != {
        (r.doc_id, r.shuffle_pos) for r in got
    }
    # and the result is WELL MIXED: clump_ratio ~ 1 for every source
    # (the input order would show ~3: 100-run blocks of 1/3-share srcs)
    audit = ordering_mix_audit(out, "source", "shuffle_pos").collect()
    assert len(audit) == 3
    for r in audit:
        assert 0.6 <= r.clump_ratio <= 1.5, r
    before = ordering_mix_audit(
        df.withColumn("pos", F.col("doc_id")), "source", "pos"
    ).collect()
    assert all(r.clump_ratio > 2.5 for r in before)


def test_int8_quantization_roundtrip_preserves_ranking(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.quantize_embeddings_int8(df)
    deq = similarity.dequantize_embeddings_int8(
        q.drop("embedding"), out_col="embedding"
    )
    # per-element error bounded by half a quantization step
    joined = (
        df.select("vec_id", F.col("embedding").alias("orig"))
        .join(deq.select("vec_id", "embedding", "q_scale"), "vec_id")
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "orig", "embedding",
                    lambda a, b: F.abs(a.cast("double") - b.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("max_err"),
            F.col("q_scale").cast("double").alias("s"),
        )
    )
    for r in joined.collect():
        assert r.max_err <= r.s / 2 + 1e-7
    # cosine top-3 ranking unchanged on dequantized vectors
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = [r.neighbor_id for r in similarity.cosine_topk(queries, df, k=3).collect()]
    deq_brute = [
        r.neighbor_id
        for r in similarity.cosine_topk(queries, deq.select("vec_id", "embedding"), k=3).collect()
    ]
    assert brute == deq_brute
    # zero vector: scale 0, zeros back, no NaN
    z = spark.createDataFrame([(99, [0.0] * 16)], "vec_id long, embedding array<float>")
    zq = similarity.dequantize_embeddings_int8(
        similarity.quantize_embeddings_int8(z).drop("embedding")
    ).first()
    assert zq.embedding == [0.0] * 16


def test_mean_pool_embeddings_matches_numpy(spark):
    rng = np.random.default_rng(9)
    chunks = []
    for doc in (1, 2):
        for _ in range(3 if doc == 1 else 2):
            chunks.append((doc, [float(x) for x in rng.normal(size=4)]))
    df = spark.createDataFrame(chunks, "doc_id long, embedding array<float>")
    out = {r.doc_id: r.embedding for r in similarity.mean_pool_embeddings(df).collect()}
    for doc in (1, 2):
        arrs = np.array([c for d, c in chunks if d == doc], dtype="float64")
        expect = arrs.mean(axis=0)
        got = np.array(out[doc], dtype="float64")
        assert np.allclose(got, expect, atol=1e-6)
        assert len(out[doc]) == 4


def test_reciprocal_rank_fusion_prefers_consensus(spark):
    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2), (10, 3)], "doc_id long, rank int"
    )
    out = similarity.reciprocal_rank_fusion([lex, sem], k=60, top_n=4).collect()
    ids = [r.doc_id for r in out]
    # docs in BOTH lists (10, 20) outrank single-list docs (30, 40)
    assert set(ids[:2]) == {10, 20}
    assert out[0].n_lists == 2
    # doc 20 (ranks 1+2) beats doc 10 (ranks 1+3)
    assert ids[0] == 20
    # deterministic python twin
    import math
    expect20 = round(1 / 61 + 1 / 62, 9)
    assert abs(out[0].rrf_score - expect20) < 1e-12


def test_weighted_rrf_biases_toward_heavier_list(spark):
    """A 3:1 lexical weight must outrank a semantic-only doc that
    plain RRF would prefer, in both float and integer-nano modes."""
    lex = spark.createDataFrame([(10, 3)], "doc_id long, rank int")
    sem = spark.createDataFrame([(20, 1)], "doc_id long, rank int")
    plain = similarity.reciprocal_rank_fusion([lex, sem], k=60).collect()
    assert plain[0].doc_id == 20  # rank 1 beats rank 3 unweighted
    for kw in ({"weights": [3.0, 1.0]}, {"weights": [3, 1], "nano_units": True}):
        fused = similarity.reciprocal_rank_fusion([lex, sem], k=60, **kw).collect()
        assert fused[0].doc_id == 10  # 3/63 > 1/61
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.reciprocal_rank_fusion(
            [lex, sem], k=60, nano_units=True, weights=[1.5, 1.0]
        )
    with _pytest.raises(ValueError):
        similarity.reciprocal_rank_fusion([lex, sem], weights=[1.0])


@pytest.mark.slow
def test_rrf_nano_units_match_float_ranking(spark):
    """The engine-exact nano tier (10^9 div (k+rank), BIGINT sum) must
    induce the SAME fused ordering as the float tier whenever the float
    scores are separated by more than the quantization error (< 2e-9
    for two lists) — i.e. on any list pair without pathological
    near-ties."""
    import random

    rng = random.Random(41)
    for _ in range(10):
        ids = list(range(1, 30))
        rng.shuffle(ids)
        lex_rows = [(ids[i], i + 1) for i in range(15)]
        rng.shuffle(ids)
        sem_rows = [(ids[i], i + 1) for i in range(15)]
        lex = spark.createDataFrame(lex_rows, "doc_id long, rank int")
        sem = spark.createDataFrame(sem_rows, "doc_id long, rank int")
        fl = similarity.reciprocal_rank_fusion([lex, sem], k=60).collect()
        nano = similarity.reciprocal_rank_fusion(
            [lex, sem], k=60, nano_units=True
        ).collect()
        assert [r.doc_id for r in fl] == [r.doc_id for r in nano]
        for r in nano:
            # nano sum is exactly the python integer twin
            ranks = [rk for d, rk in lex_rows if d == r.doc_id] + [
                rk for d, rk in sem_rows if d == r.doc_id
            ]
            assert r.rrf_nano == sum(10**9 // (60 + rk) for rk in ranks)
            assert abs(r.rrf_score - r.rrf_nano / 1e9) < 1e-12


def test_hybrid_search_end_to_end_fuses_bm25_and_ann(spark):
    """Composition check: BM25 lexical candidates + brute-force cosine
    semantic candidates over the harness tables, fused by RRF — the
    full hybrid-retrieval path, ids shared across documents/embeddings."""
    from pyspark.sql import Window
    from peskas_mozambique_data_pipeline_spark.session import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    emb = read_table(spark, sf, "embeddings")

    lex = text.bm25_topk(docs, ["spark", "merge"], k=20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_ranked = lex.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rank"
    )
    queries = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = similarity.cosine_topk(queries, emb, k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    fused = similarity.reciprocal_rank_fusion([lex_ranked, sem], top_n=10)
    rows = fused.collect()
    assert 0 < len(rows) <= 10
    # scores strictly ordered, id tie-break deterministic
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every fused doc came from at least one list, none from neither
    lex_ids = {r.doc_id for r in lex_ranked.collect()}
    sem_ids = {r.doc_id for r in sem.collect()}
    for r in rows:
        assert r.doc_id in lex_ids | sem_ids
        assert r.n_lists == (r.doc_id in lex_ids) + (r.doc_id in sem_ids)
    # consensus docs (if any) sit above same-rank single-list docs
    both = [r for r in rows if r.n_lists == 2]
    if both:
        best_single = max(
            (r.rrf_score for r in rows if r.n_lists == 1), default=0.0
        )
        assert both[0].rrf_score > 0  # present and positive


def test_mixture_budget_rates_water_fills_capped_sources(spark):
    from peskas_mozambique_data_pipeline_spark.operators.curation import (
        mixture_budget_rates,
    )

    counts = spark.createDataFrame(
        [("web", 1000), ("code", 100), ("books", 500)],
        "source string, n_tokens long",
    )
    # books wants 40% of 2000 = 800 > 500*1.0 cap -> capped at 500;
    # the 300 deficit re-spreads over web/code by weight (web hits no
    # cap; code caps at 100 if needed)
    out = {
        r.source: r
        for r in mixture_budget_rates(
            counts,
            {"web": 0.5, "code": 0.1, "books": 0.4},
            total_budget_tokens=2000,
            max_epochs=1.0,
        ).collect()
    }
    assert out["books"].capped and out["books"].draw_tokens == 500
    assert out["books"].epochs == 1.0
    # code: initial 200 > 100 cap -> capped at 100
    assert out["code"].capped and out["code"].draw_tokens == 100
    # web takes the rest: 2000 - 500 - 100 = 1400, beyond its own
    # initial 1000 share but within its epoch room? 1400 > 1000*1.0 ->
    # web caps too; total drawn = 1600 < budget (documented: budget not
    # fillable under these caps)
    assert out["web"].draw_tokens == 1000 and out["web"].capped
    total = sum(r.draw_tokens for r in out.values())
    assert total == 1600
    # with headroom (max_epochs=4) the budget fills exactly
    out2 = {
        r.source: r
        for r in mixture_budget_rates(
            counts,
            {"web": 0.5, "code": 0.1, "books": 0.4},
            total_budget_tokens=2000,
            max_epochs=4.0,
        ).collect()
    }
    assert sum(r.draw_tokens for r in out2.values()) == 2000
    assert not any(r.capped for r in out2.values())
    assert out2["books"].draw_tokens == 800 and out2["books"].epochs == 1.6
    assert out2["code"].draw_tokens == 200 and out2["code"].epochs == 2.0


def test_log2_nano_table_exact_powers_and_monotone():
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        log2_nano_table,
    )

    lut = log2_nano_table(512)
    assert len(lut) == 512
    # dyadic arguments are exact in any libm — fixed anchors
    for c, bits in ((1, 0), (2, 1), (4, 2), (8, 3), (256, 8), (512, 9)):
        assert lut[c - 1] == bits * 1_000_000_000
    assert list(lut) == sorted(lut)  # log2 is monotone


def test_deterministic_shuffle_eager_unpersist_identical_and_freed(spark):
    """eager_unpersist=True (SCALE.md r8): positions identical to the
    default path, and the intermediate ranged checkpoint is released
    immediately (persistent-RDD census grows by at most the output)."""
    from peskas_mozambique_data_pipeline_spark.operators.curation import (
        deterministic_shuffle,
    )

    rows = [(i, "s") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    base = {
        (r.doc_id, r.shuffle_pos)
        for r in deterministic_shuffle(df, "doc_id", salt="e2", n_parts=4)
        .select("doc_id", "shuffle_pos").collect()
    }

    spark.sparkContext._jsc.sc().getPersistentRDDs()  # warm the census
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    eager = deterministic_shuffle(
        df, "doc_id", salt="e2", n_parts=4, eager_unpersist=True
    )
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    got = {
        (r.doc_id, r.shuffle_pos)
        for r in eager.select("doc_id", "shuffle_pos").collect()
    }
    assert got == base
    # the ranged intermediate was unpersisted; only the materialized
    # output may remain in the block store
    assert after - before <= 1, (before, after)


@pytest.mark.slow
def test_mixture_budget_closed_matches_iterative(spark):
    """The r8 closed-form waterfill (sort by cap/weight + exact-integer
    breakpoint predicate) reproduces the iterative solver's fixpoint,
    including the all-capped unfillable case."""
    import random

    from peskas_mozambique_data_pipeline_spark.operators.curation import (
        mixture_budget_closed,
        mixture_budget_rates,
    )

    rng = random.Random(42)
    for trial in range(8):
        n_src = rng.randint(2, 7)
        names = [f"s{i}" for i in range(n_src)]
        counts_rows = [(g, rng.randint(50, 5000)) for g in names]
        weights = {g: rng.randint(1, 20) for g in names}
        budget = rng.randint(100, 40000)
        epochs = rng.choice([1, 2, 4])
        counts = spark.createDataFrame(
            counts_rows, "source string, n_tokens long"
        )
        closed = {
            r.source: r
            for r in mixture_budget_closed(
                counts, weights, budget, max_epochs=epochs
            ).collect()
        }
        wsum = sum(weights.values())
        iterative = {
            r.source: r
            for r in mixture_budget_rates(
                counts,
                {g: w / wsum for g, w in weights.items()},
                budget,
                max_epochs=float(epochs),
            ).collect()
        }
        assert set(closed) == set(iterative)
        for g in names:
            # float-epsilon bookkeeping in the iterative path vs exact
            # integers in the closed form: draws agree to the token
            assert abs(closed[g].draw_tokens - iterative[g].draw_tokens) <= 1, (
                trial, g, closed[g], iterative[g])
        total_cap = sum(epochs * n for _, n in counts_rows)
        drawn = sum(r.draw_tokens for r in closed.values())
        if total_cap >= budget:
            # fillable: draws exhaust the budget (±1 rounding per src)
            assert abs(drawn - budget) <= n_src
        else:
            assert drawn == total_cap
            assert all(r.capped for r in closed.values())


def test_mixture_budget_closed_breakpoint_exactness(spark):
    """The capped/uncapped decision is an integer cross-multiply: a
    source exactly AT the water level caps (<=), and the pivot source
    below it does not."""
    from peskas_mozambique_data_pipeline_spark.operators.curation import (
        mixture_budget_closed,
    )

    counts = spark.createDataFrame(
        [("a", 100), ("b", 1000)], "source string, n_tokens long"
    )
    # caps: a=100, b=1000.  weights 1:1, budget 200 -> lambda with a
    # capped: (200-100)/1 = 100 = b's draw; a's ratio r_a = 100 <= 100
    # boundary: a capped exactly at the level
    out = {
        r.source: r
        for r in mixture_budget_closed(
            counts, {"a": 1, "b": 1}, 200, max_epochs=1
        ).collect()
    }
    assert out["a"].capped and out["a"].draw_tokens == 100
    assert not out["b"].capped and out["b"].draw_tokens == 100
    import pytest

    with pytest.raises(ValueError):
        mixture_budget_closed(counts, {"a": 0.5, "b": 1}, 100)
    with pytest.raises(ValueError):
        mixture_budget_closed(counts, {"a": 1, "b": 1}, 100, max_epochs=0)


def test_scrub_boilerplate_lines_removes_corpus_repeats(spark):
    """Line-grain scrub (r8): lines repeated across >= min_docs
    distinct docs go; short repeats and unique lines stay; per-doc
    line order is preserved in the rebuilt text."""
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        scrub_boilerplate_lines,
    )

    chrome = "subscribe to our newsletter for updates"
    legal = "all rights reserved by the original author"
    rows = [
        (1, f"unique alpha content\n{chrome}\nmore unique text"),
        (2, f"{chrome}\nbeta body paragraph here\n{legal}"),
        (3, f"{legal}\ngamma text of doc three\n{chrome}"),
        (4, f"{legal}\ndelta only appears once\n-"),
        # the short repeat "-" is under min_chars in every doc: kept
        (5, "-\nepsilon closing body text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in scrub_boilerplate_lines(df, min_docs=3, min_chars=20).collect()
    }
    # chrome appears in docs 1,2,3 and legal in 2,3,4 -> both scrubbed
    assert out[1].text_clean == "unique alpha content\nmore unique text"
    assert out[2].text_clean == "beta body paragraph here"
    assert out[3].text_clean == "gamma text of doc three"
    assert out[4].text_clean == "delta only appears once\n-"
    assert out[5].text_clean == "-\nepsilon closing body text"
    assert out[2].n_lines == 3 and out[2].n_scrubbed == 2
    assert out[5].n_scrubbed == 0
    # normalization: case/whitespace variants of a boilerplate line
    # still match the digest
    df2 = spark.createDataFrame(
        [
            (1, f"  {chrome.upper()}  \nkept line one of this document"),
            (2, f"{chrome}\nkept line two of this document"),
            (3, f"{chrome}\nkept line three of this document"),
        ],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in scrub_boilerplate_lines(
        df2, min_docs=3, min_chars=20).collect()}
    assert out2[1].text_clean == "kept line one of this document"
    assert out2[1].n_scrubbed == 1


def test_scrub_boilerplate_lines_no_udf_and_shuffle_bound(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        scrub_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(i, "line a\nline b") for i in range(10)], "doc_id long, text string"
    )
    plan_buf = []
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scrub_boilerplate_lines(df).explain("simple")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_connected_components_probe_cadence_parity(spark):
    """probe_every stretches the checkpoint/convergence cadence without
    changing the fixpoint: labels only decrease, so delayed probes find
    the identical unique labeling (chain + star + isolated pair)."""
    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a long, id_b long",
    )
    base = sorted(
        tuple(r) for r in connected_components(edges, probe_every=1).collect()
    )
    for cadence in (2, 3):
        got = sorted(
            tuple(r)
            for r in connected_components(edges, probe_every=cadence).collect()
        )
        assert got == base, cadence


def test_luhn_card_redaction(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        luhn_valid,
        redact_cards,
        redact_pii,
    )

    rows = [
        # 4111111111111111 is the canonical Luhn-valid test PAN;
        # ...1112 fails the checksum; 123456789012 is too short
        (1, "pay with 4111111111111111 now"),
        (2, "order 4111111111111112 shipped"),
        (3, "ref 123456789012 and card 5500005555555559."),
        (4, "no digits here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_cards(df).collect()}
    assert got[1]["redacted"] == "pay with [CARD] now"
    assert got[1]["n_cards"] == 1
    assert got[2]["redacted"] == rows[1][1]  # Luhn-invalid: untouched
    assert got[2]["n_cards"] == 0
    assert got[3]["redacted"] == "ref 123456789012 and card [CARD]."
    assert got[4]["n_cards"] == 0

    # python-twin check of the validator itself
    def luhn_py(s):
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    nums = ["4111111111111111", "4111111111111112", "5500005555555559",
            "79927398713", "79927398710"]
    vdf = spark.createDataFrame([(n,) for n in nums], "n string")
    got_v = {
        r["n"]: r["v"]
        for r in vdf.select("n", luhn_valid("n").alias("v")).collect()
    }
    for n in nums:
        assert got_v[n] == luhn_py(n), n

    # composition: cards first, then the generic patterns
    composed = redact_pii(
        redact_cards(df), text_col="redacted", out_col="final"
    ).collect()
    final = {r["doc_id"]: r["final"] for r in composed}
    assert "[CARD]" in final[1]          # card survived as [CARD]
    assert "[NUM]" in final[2]           # invalid run became [NUM]

    # ADVICE r9: a valid candidate that ALSO appears as a substring of a
    # longer (>19-digit, non-candidate) run must not rewrite that run —
    # replacement is digit-boundary-anchored, not literal
    sub = spark.createDataFrame(
        [(10, "card 4111111111111111 trace 9941111111111111114527")],
        "doc_id long, text string",
    )
    got_sub = redact_cards(sub).collect()[0]
    assert got_sub["n_cards"] == 1
    assert (
        got_sub["redacted"]
        == "card [CARD] trace 9941111111111111114527"
    )
    # and a valid candidate nested inside a longer Luhn-INVALID
    # candidate run (17 digits, checksum 42) leaves that run intact:
    # only whole digit-bounded occurrences are replaced
    both = spark.createDataFrame(
        [(11, "a 5500005555555559 b 25500005555555559 c")],
        "doc_id long, text string",
    )
    got_both = redact_cards(both).collect()[0]
    assert got_both["redacted"] == "a [CARD] b 25500005555555559 c"
    assert got_both["n_cards"] == 1


def test_compression_ratio_signal(spark):
    import zlib

    from peskas_mozambique_data_pipeline_spark.operators.text import (
        compression_ratio,
    )

    rows = [
        (1, "spam spam spam spam " * 50),                 # highly repetitive
        (2, "The committee weighed seventeen distinct proposals before "
            "narrowing its focus to coastal infrastructure, fisheries "
            "management, and adaptive climate policy instruments."),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["compression_ratio"]
           for r in compression_ratio(df).collect()}
    # repetitive text compresses far below prose
    assert got[1] < 0.15 < got[2]
    assert got[3] == 1.0 and got[4] == 1.0
    # pinned to the exact zlib arithmetic
    raw = rows[0][1].encode()
    assert got[1] == len(zlib.compress(raw, 6)) / len(raw)


def test_lsh_banding_plan():
    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        lsh_banding_plan,
    )

    plan = lsh_banding_plan(8, 0.8)
    assert plan["bands"] * plan["rows_per_band"] == 8
    # midpoint formula honored
    assert abs(
        plan["midpoint"] - (1 / plan["bands"]) ** (1 / plan["rows_per_band"])
    ) < 1e-12
    # S-curve is monotone in s and the plan catches the target region
    ps = [plan["p_candidate"][s] for s in (0.5, 0.6, 0.7, 0.8, 0.9)]
    assert ps == sorted(ps)
    assert plan["p_at_target"] > 0.5  # midpoint ~ threshold => P > 1/2
    # a low-threshold ask picks more bands (lower midpoint)
    low = lsh_banding_plan(8, 0.3)
    assert low["bands"] > plan["bands"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_banding_plan(8, 1.5)


def test_segment_languages_majority_and_scrub(spark):
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        segment_languages,
    )

    en = "the quick fox and the dog are with all of this"
    de = "der und die das ist nicht ein mit sich auch"
    rows = [
        (1, "\n".join([en, en, de, en])),       # mostly en, one de line
        (2, de + "\n" + de),                     # pure de
        (3, "12345\n67890"),                     # no markers anywhere
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in segment_languages(df).collect()}
    assert got[1]["doc_lang"] == "en" and got[1]["lang_line_share"] == 0.75
    assert got[2]["doc_lang"] == "de" and got[2]["lang_line_share"] == 1.0
    assert got[3]["doc_lang"] == "und" and got[3]["lang_line_share"] == 1.0

    scrubbed = {
        r["doc_id"]: r["scrubbed_text"]
        for r in segment_languages(df, scrub=True).collect()
    }
    # the German line is cut from doc 1, order preserved
    assert scrubbed[1] == "\n".join([en, en, en])
    assert scrubbed[2] == rows[1][1]
    assert scrubbed[3] == rows[2][1]  # und lines always survive

    # plan: no UDF, no corpus window
    plan = (
        segment_languages(df, scrub=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_luhn_valid_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from peskas_mozambique_data_pipeline_spark.operators.text import luhn_valid

    def luhn_py(s):
        total = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    cases = []

    @settings(max_examples=150, deadline=None)
    @given(st.text(alphabet="0123456789", min_size=1, max_size=19))
    def collect(s):
        cases.append(s)

    collect()
    nums = sorted(set(cases))
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(n,) for n in nums], ["n"])
    got = {
        r["n"]: r["v"]
        for r in df.select("n", luhn_valid("n").alias("v")).collect()
    }
    for n in nums:
        assert got[n] == luhn_py(n), n


# ---------------------------------------------------------------------------
# exact covariance / PCA / projection


def test_embedding_covariance_exact_and_partition_invariant(spark):
    import numpy as np

    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim

    rng = [[0.5, -0.25, 0.125], [1.0, 0.0, -0.5], [-0.75, 0.5, 0.25], [0.0, 1.0, 1.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    )
    n, sums, cov = sim.embedding_covariance(df, dim=3, quant=10**6)
    assert n == 4
    q = np.round(np.asarray(rng) * 10**6).astype(np.int64)
    assert sums == [int(x) for x in q.sum(axis=0)]
    want = q.T @ q
    assert [[int(c) for c in row] for row in cov] == want.tolist()

    # EXACT partition invariance: decimal sums have no float order
    n1, s1, c1 = sim.embedding_covariance(df.repartition(7), dim=3)
    assert (n1, s1, c1) == (n, sums, cov)


def test_covariance_cells_no_bigint_wrap_on_large_components(spark):
    """The per-row product is DECIMAL, not BIGINT: components with
    |x|·quant beyond sqrt(2^63) (here q = 4e9, q² = 1.6e19 > 2^63−1)
    must sum exactly instead of silently wrapping."""
    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [4000.0]), (2, [4000.0])], "vec_id long, embedding array<double>"
    )
    cells = {
        (r["i"], r["j"]): int(r["s"])
        for r in sim.covariance_cells(df, quant=10**6).collect()
    }
    assert cells == {(0, 0): 2 * (4 * 10**9) ** 2}


def test_embedding_pca_recovers_planted_axis(spark):
    import math

    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim

    # points spread along (3,4,0)/5 with small off-axis jitter
    axis = [0.6, 0.8, 0.0]
    rows = []
    for i in range(40):
        t = (i - 20) / 4.0
        jit = ((i * 7) % 5 - 2) / 50.0
        rows.append((i, [t * axis[0] + jit, t * axis[1] - jit, jit / 2]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, vals = sim.embedding_pca(df, k=2, dim=3)
    assert vals[0] > vals[1] >= 0
    cos = abs(sum(a * b for a, b in zip(comps[0], axis)))
    assert cos > 0.999  # dominant axis recovered
    # sign canonicalization: largest-|x| component positive
    m = max(range(3), key=lambda j: abs(comps[0][j]))
    assert comps[0][m] > 0


def test_project_embeddings_jvm_and_centering(spark):
    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0])], "vec_id long, embedding array<double>"
    )
    comps = [[1.0, 0.0], [0.0, 1.0]]
    out = sim.project_embeddings(df, comps, mean=[1.0, 1.5])
    got = {r.vec_id: r.projected for r in out.collect()}
    assert got[1] == [1.0, -1.5] and got[2] == [-1.0, 1.5]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_covariance_equals_whole_corpus(spark):
    """Incremental PCA: per-shard statistics merged == whole-corpus
    statistics, exactly (integer sums)."""
    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim

    rows = [(i, [((i * 7 + j * 13) % 19 - 9) / 4.0 for j in range(3)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    whole = sim.embedding_covariance(df, dim=3)
    a = sim.embedding_covariance(df.filter("vec_id < 11"), dim=3)
    b = sim.embedding_covariance(df.filter("vec_id >= 11"), dim=3)
    assert sim.merge_covariance(a, b) == whole


def test_whitened_projection_feeds_semantic_dedup(spark):
    """Conditioning composes with the dedup surface: whiten-project the
    embeddings, then run semantic_survivors on the projected column —
    near-dup structure along the dominant axis survives whitening."""
    from peskas_mozambique_data_pipeline_spark.operators import similarity as sim
    from peskas_mozambique_data_pipeline_spark.plans import corpus

    rows = []
    for i in range(12):
        t = (i - 6) / 2.0
        jit = ((i * 5) % 3 - 1) / 40.0
        rows.append((i, "b0", [t + jit, 2 * t - jit, jit]))
    # two exact near-dups of row 3's direction
    rows.append((100, "b0", [v * 1.001 for v in rows[3][2]]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    comps, _ = sim.embedding_pca(emb, k=2, dim=3, whiten=True)
    proj = sim.project_embeddings(emb, comps).select(
        "vec_id", "label", F.col("projected").alias("embedding")
    )
    docs = emb.select("vec_id").withColumnRenamed("vec_id", "doc_id").withColumn(
        "text", F.lit("x")
    )
    surv = {
        r.doc_id
        for r in corpus.semantic_survivors(docs, proj, threshold=0.999).collect()
    }
    assert 3 in surv and 100 not in surv  # the scaled copy collapses onto 3
