"""Corpus curation pipeline: the training-data analog of the fisheries
workflow DAG (``plans/pipeline.py``).

Composes the oracle-verified operators into the standard curation
sequence a large-scale LLM-data pipeline runs — quality gate →
near-duplicate clustering → representative selection → sequence packing
— with the same versioned-zone handoff and skip-if-fresh incremental
semantics as the reference's cron workflow
(.github/workflows/data-pipeline.yaml:69-230 for the stage shape).

Stage shapes at 100 TB:

* ``stage_quality``: scan-only (flags + keep are column predicates) —
  parallelism is the parquet split count, no shuffle.
* ``stage_dedup``: the MinHash family over ONE materialized shingle
  frame (see ``operators/dedup.shingle_hash_frame``), then min-label
  connected components; survivors are an anti-join of docs against
  non-representative cluster members (cluster representative = minimum
  doc id, deterministic).
* ``stage_pack``: per-stratum cumsum window — one shuffle on the
  stratum key; use a composite (lang, shard) key at scale so a single
  giant language doesn't serialize.

Nothing collects to the driver; every stage returns the written zone
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops
from .pipeline import PipelineZones


def curate_quality(docs: DataFrame, **filter_kw) -> DataFrame:
    """Docs surviving the C4/Gopher heuristic gate — a direct filter on
    the keep predicate (pure scan, zero shuffle); joining against the
    flags table would scan the corpus twice for nothing."""
    return docs.filter(text_ops.c4_keep_expr("text", **filter_kw))


def dedup_survivors(
    docs: DataFrame,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup removal: MinHash candidates → Jaccard verify → connected
    components → keep each cluster's minimum-id representative.

    Every doc outside a duplicate cluster survives untouched; inside a
    cluster only the representative (== component_id, the minimum
    member) survives — the deterministic "keep one, drop the rest".
    """
    hashed = dedup_ops.shingle_hash_frame(
        docs, id_col=id_col, shingle_k=shingle_k, materialize=True
    )
    pairs = dedup_ops.minhash_candidates_from_hashes(hashed, id_col=id_col)
    verified = dedup_ops.jaccard_verify_hashed(hashed, pairs, id_col=id_col).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    # probe_every=2: near-dup components are shallow, so probing every
    # second round halves the checkpoint and probe jobs (see
    # duplicate_clusters)
    comp = dedup_ops.connected_components(verified, probe_every=2)
    losers = comp.filter(F.col("node") != F.col("component_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def semantic_survivors(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.35,
    backend: str = "arrow",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    block_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic near-dup removal: cosine edges over the
    embedding column → connected components → keep each cluster's
    minimum-id representative (same keep-rule as :func:`dedup_survivors`
    so the two dedup stages compose deterministically).

    ``backend="arrow"`` (default) is the PRODUCTION path — one BLAS
    matmul per label block via Arrow batches, measured ~7× over the JVM
    expression fold; ``backend="jvm"`` is the oracle-verified fold
    (``embedding_near_dup``/``embedding_clusters``).  Both yield the
    same edge set at the same threshold (parity-tested), so the
    survivor set is backend-independent.
    """
    edges = sim_ops.cosine_block_pairs(
        embeddings, block_col=block_col, id_col=emb_id_col,
        threshold=threshold, backend=backend,
    ).select("id_a", "id_b")
    comp = dedup_ops.connected_components(edges, probe_every=2)
    losers = comp.filter(F.col("node") != F.col("component_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def stage_ingest_warc(
    spark: SparkSession,
    warc_path: str,
    zones: PipelineZones,
    on_error: str = "skip",
) -> str:
    """Crawl front door (VERDICT r8 Next #5): WARC bytes →
    ``documents``-shaped ``corpus_ingested`` zone, so a crawl archive
    enters the SAME DAG the parquet corpus does.

    ``read_warc`` (whole-file ``binaryFile`` rows, record fan-out in a
    bounded ``mapInPandas``) → ``http_payload`` (200/text responses
    only, filtered JVM-side before the envelope split) →
    ``warc_to_documents`` (content-addressed sha256 doc ids, permissive
    UTF-8 decode, ``url`` column for the URL front door).  The zone
    write's range partition on doc_id is the pipeline's only shuffle;
    ``on_error="skip"`` is the default here because a crawl archive at
    scale always contains some malformed records and ingest must not
    fail the whole DAG on one of them.
    """
    from ..io import warc as warc_io

    records = warc_io.read_warc(spark, warc_path, on_error=on_error)
    docs = warc_io.warc_to_documents(warc_io.http_payload(records))
    return zones.write(docs, "corpus_ingested", range_by=["doc_id"])


def stage_extract_html(
    spark: SparkSession,
    zones: PipelineZones,
    source: str = "corpus_ingested",
) -> str:
    """HTML → text between the crawl front door and the text DAG: the
    ingested payloads are markup, every downstream operator assumes
    rendered text.  ``operators/html.extract_html_text`` is a pure
    regexp scan (tags/scripts/styles cut, entities decoded, block
    boundaries → newlines, title kept as a column), so the stage costs
    one scan + the zone write's range partition — no extra shuffle,
    and ``n_chars`` is recomputed over the CLEAN text so length gates
    never measure markup.  ``text_density`` / ``link_density`` are
    computed from the raw markup BEFORE extraction and ride into the
    zone as page-level quality features (the cheap main-content /
    boilerplate signal)."""
    from ..operators import html as html_ops

    docs = zones.read(spark, source)
    return zones.write(
        html_ops.extract_html_text(html_ops.page_quality_features(docs)),
        "corpus_extracted",
        range_by=["doc_id"],
    )


def stage_normalize(
    spark: SparkSession,
    docs: DataFrame,
    zones: PipelineZones,
    unicode_form: str | None = None,
) -> str:
    """Text canonicalization at the very front of the DAG (the
    CCNet/RefinedWeb ordering): unicode normalization first when
    requested (NFKC folds fullwidth/compat forms — a pandas-UDF scan
    stage), then the JVM whitespace/control cleanup, so every
    downstream digest/shingle/token pass sees one canonical byte
    encoding per text.  Scan-shaped: zero shuffles before the zone
    write's range partition."""
    out = docs
    if unicode_form is not None:
        out = text_ops.normalize_unicode(out, form=unicode_form)
    out = out.withColumn("text", text_ops.normalize_whitespace_expr("text"))
    return zones.write(out, "corpus_normalized", range_by=["doc_id"])


def stage_url_dedup(
    spark: SparkSession,
    zones: PipelineZones,
    url_col: str,
    source: str = "corpus_normalized",
) -> str:
    """URL-keyed refetch removal ahead of the content passes — orders
    of magnitude cheaper than MinHash (the dedup moves (key, id) pairs,
    never text), so it runs as early as possible.  Winner per canonical
    URL is the smallest doc id (no quality scores exist this early);
    survivors keep their full rows minus the bookkeeping columns."""
    from ..operators import web as web_ops

    docs = zones.read(spark, source)
    marked = web_ops.url_dedup(docs, url_col=url_col)
    keep = marked.filter(F.col("is_url_canonical")).drop(
        "canonical_url", "n_url_dups", "is_url_canonical"
    )
    return zones.write(keep, "corpus_url_deduped", range_by=["doc_id"])


def stage_quality(spark: SparkSession, docs: DataFrame, zones: PipelineZones) -> str:
    # every doc-keyed corpus zone range-partitions on doc_id: the
    # dedup/scrub/semantic stages all join or anti-join on doc_id, so
    # disjoint per-file id ranges give file-level pruning and keep the
    # zone mergeable without a global sort
    return zones.write(curate_quality(docs), "corpus_filtered", range_by=["doc_id"])


def stage_classify(
    spark: SparkSession,
    zones: PipelineZones,
    weights: DataFrame,
    bias_nano: int = 0,
    threshold: float = 0.0,
    dim: int = 2**18,
    source: str = "corpus_filtered",
) -> str:
    """Model-based quality gate (the fastText-classifier pass): score
    every surviving doc under a fitted hashed linear model
    (``operators/classifier``) and keep docs at or above ``threshold``.
    Runs AFTER the heuristic gate (cheap scan rules first) and BEFORE
    the pair-generation stages, so the expensive dedup input shrinks by
    the classifier's rejection rate.  The model broadcasts; per-doc
    scores are exact BIGINT folds, so the stage is deterministic under
    any partitioning."""
    from ..operators import classifier as clf

    docs = zones.read(spark, source)
    scored = clf.score_hashed_linear(
        docs, weights, dim=dim, bias_nano=bias_nano
    )
    keep = scored.filter(F.col("score") >= threshold).drop("score", "prob")
    return zones.write(keep, "corpus_classified", range_by=["doc_id"])


def stage_dedup(
    spark: SparkSession,
    zones: PipelineZones,
    jaccard_threshold: float = 0.8,
    source: str = "corpus_filtered",
) -> str:
    filtered = zones.read(spark, source)
    return zones.write(
        dedup_survivors(filtered, jaccard_threshold=jaccard_threshold),
        "corpus_deduped",
        range_by=["doc_id"],
    )


def stage_semantic_dedup(
    spark: SparkSession,
    zones: PipelineZones,
    embeddings: DataFrame,
    threshold: float = 0.35,
    backend: str = "arrow",
) -> str:
    deduped = zones.read(spark, "corpus_deduped")
    return zones.write(
        semantic_survivors(deduped, embeddings, threshold=threshold, backend=backend),
        "corpus_semantic",
        range_by=["doc_id"],
    )


def stage_diversity(
    spark: SparkSession,
    zones: PipelineZones,
    embeddings: DataFrame,
    diversity_budget: int,
    n_strata: int = 8,
    source: str = "corpus_deduped",
    quality_col: str | None = None,
) -> str:
    """Cluster-balanced budget selection (DataComp shape) over the
    surviving corpus: train ``n_strata`` centroids on the SURVIVORS'
    embeddings (``build_ivf_index`` — the same trainer every index
    tier uses), then keep exactly ``min(diversity_budget, N)``
    documents via :func:`operators.curation.cluster_balanced_sample`,
    so no embedding-space region monopolizes the training budget.

    ``quality_col`` names a per-doc score already on the corpus frame
    (e.g. a classifier stage's output); when absent the token count
    stands in — the cheapest defensible quality prior, and exact.
    """
    from ..operators.curation import cluster_balanced_sample
    from ..operators.text import token_count

    docs = zones.read(spark, source)
    surv = docs.select(F.col("doc_id"))
    emb = embeddings.join(
        surv.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    )
    _, cents = sim_ops.build_ivf_index(emb, n_centroids=n_strata, n_iters=2)
    if quality_col is None:
        q = docs.select("doc_id", token_count(F.col("text")).cast("long").alias("_q"))
        quality_col = "_q"
    else:
        q = docs.select("doc_id", F.col(quality_col))
    frame = emb.select(F.col("vec_id").alias("doc_id"), "embedding").join(
        q, "doc_id"
    )
    chosen = cluster_balanced_sample(
        frame, cents, budget=diversity_budget,
        quality_col=quality_col, id_col="doc_id",
    ).select("doc_id")
    return zones.write(
        docs.join(chosen, "doc_id", "left_semi"),
        "corpus_diverse",
        range_by=["doc_id"],
    )


def stage_span_scrub(
    spark: SparkSession,
    zones: PipelineZones,
    span_n: int = 8,
    source: str = "corpus_deduped",
) -> str:
    """Exact-substring scrub: detect duplicated ≥``span_n``-token spans
    WITHIN the surviving corpus and cut them (symmetric removal), then
    republish with the cleaned text under the original column name so
    downstream packing sees the reduced token counts."""
    docs = zones.read(spark, source)
    spans = dedup_ops.duplicated_ngram_spans(docs, n=span_n)
    scrubbed = text_ops.remove_spans(docs, spans)
    out = (
        docs.drop("text")
        .join(scrubbed.select("doc_id", "text_clean", "n_removed"), "doc_id")
        .withColumnRenamed("text_clean", "text")
    )
    return zones.write(out, "corpus_scrubbed", range_by=["doc_id"])


def stage_lang_segment(
    spark: SparkSession,
    zones: PipelineZones,
    scrub: bool = True,
    source: str = "corpus_filtered",
) -> str:
    """Per-line language segmentation (CCNet-style, r9): majority
    language + line share per document, minority-language lines
    scrubbed (``scrub=True``) so mixed-language chrome doesn't pollute
    downstream shingles or the doc-level ``lang`` column.  The doc's
    ``lang`` is overwritten with the line-majority vote — more robust
    than whole-text argmax on documents with embedded quotes."""
    docs = zones.read(spark, source)
    seg = text_ops.segment_languages(docs, scrub=scrub)
    if scrub:
        seg = seg.drop("text").withColumnRenamed("scrubbed_text", "text")
    if "lang" in docs.columns:
        seg = seg.drop("lang")
    seg = seg.withColumnRenamed("doc_lang", "lang")
    return zones.write(seg, "corpus_lang_segmented", range_by=["doc_id"])


def stage_line_scrub(
    spark: SparkSession,
    zones: PipelineZones,
    min_docs: int = 3,
    min_chars: int = 20,
    source: str = "corpus_filtered",
) -> str:
    """Line-grain boilerplate scrub (r8): cut lines repeated across
    ``min_docs``+ documents BEFORE pair-generation dedup — shared
    chrome/disclaimers otherwise inflate shingle overlap and create
    spurious near-dup pairs (the RefinedWeb ordering: line dedup, then
    document dedup)."""
    docs = zones.read(spark, source)
    scrubbed = text_ops.scrub_boilerplate_lines(
        docs, min_docs=min_docs, min_chars=min_chars
    )
    out = (
        docs.drop("text")
        .join(
            scrubbed.select("doc_id", "text_clean", "n_scrubbed"), "doc_id"
        )
        .withColumnRenamed("text_clean", "text")
    )
    return zones.write(out, "corpus_line_scrubbed", range_by=["doc_id"])


def stage_decontaminate(
    spark: SparkSession,
    zones: PipelineZones,
    benchmark: DataFrame,
    n: int = 13,
    n_words: int = 1024,
    source: str = "corpus_filtered",
) -> str:
    """Benchmark decontamination between the quality gate and dedup
    (the standard order: cheap scan filters first, then eval-overlap
    removal, then the expensive pair generation runs on the smallest
    surviving corpus).  Uses the Bloom-prefiltered EXACT path: clean
    docs never reach a join; false positives are struck by the exact
    gram join over the bloom-positive subset only."""
    docs = zones.read(spark, source)
    clean = text_ops.bloom_decontaminate(
        docs, benchmark, n=n, n_words=n_words
    )
    keep = clean.filter(~F.col("contaminated")).drop("n_overlap", "contaminated")
    return zones.write(keep, "corpus_decontaminated", range_by=["doc_id"])


def stage_shuffle(
    spark: SparkSession,
    zones: PipelineZones,
    salt: str = "epoch0",
    source: str = "corpus_packs",
) -> str:
    """Final training-order permutation: dense global ``shuffle_pos``
    under md5(salt, id) — change ``salt`` per epoch.  Written
    range-partitioned on the position so a sequential trainer read
    streams the permuted order with file-level locality."""
    from ..operators import curation as cur_ops

    packs = zones.read(spark, source)
    if "pack_id" in packs.columns:
        # pack_id is per-stratum — shuffle on the globally-unique
        # (stratum, pack_id) composite so the md5 order is total
        strata = "lang" if "lang" in packs.columns else None
        if strata:
            packs = packs.withColumn(
                "_sid", F.concat_ws("#", F.col(strata), F.col("pack_id"))
            )
            id_col = "_sid"
        else:
            id_col = "pack_id"
    else:
        id_col = "doc_id"
    # eager_unpersist: the shuffled frame is consumed exactly once (the
    # zone write below), so the ranged copy frees as soon as positions
    # materialize instead of lingering for the whole write job — the
    # bounded-residency knob from SCALE.md "Deterministic shuffle"
    shuffled = cur_ops.deterministic_shuffle(
        packs, id_col=id_col, salt=salt, eager_unpersist=True
    )
    if id_col == "_sid":
        shuffled = shuffled.drop("_sid")
    return zones.write(shuffled, "corpus_shuffled", range_by=["shuffle_pos"])


def stage_export_shards(
    spark: SparkSession,
    zones: PipelineZones,
    shard_tokens: int = 1_000_000,
    source: str = "corpus_shuffled",
    fmt: str = "parquet",
) -> str:
    """Trainer-facing export: cut the shuffled corpus into contiguous
    token-budget shards (``operators/curation.token_shard_ids`` — the
    distributed prefix sum, no global window) and write hive-partitioned
    on ``shard_id``, so a trainer's data loader maps shard → directory
    and a sequential epoch read streams files in training order.
    Documents/packs never split across shards; each shard holds the
    first rows whose cumulative token count fits the budget.

    A ``_manifest.json`` sidecar lands inside the zone version: one
    entry per shard (row count, token total, min/max position) plus
    the budget — the file a trainer's loader reads to plan an epoch
    without listing or scanning parquet.  The aggregate is
    shard-grained (bounded by corpus_tokens/budget — a metadata-sized
    collect, never row-grained).
    """
    import json
    import os

    from ..operators import curation as cur_ops

    shuffled = zones.read(spark, source)
    tokens_col = next(
        (c for c in ("pack_tokens", "n_tokens") if c in shuffled.columns), None
    )
    if tokens_col is None:
        shuffled = shuffled.withColumn(
            "n_tokens", text_ops.token_count("text").cast("long")
        )
        tokens_col = "n_tokens"
    # consumed exactly once (the zone write) — bounded-residency knob on
    sharded = cur_ops.token_shard_ids(
        shuffled,
        order_col="shuffle_pos",
        tokens_col=tokens_col,
        shard_tokens=shard_tokens,
        eager_unpersist=True,
    )
    if fmt == "parquet":
        path = zones.write(sharded, "training_shards", partition_by=["shard_id"])
        read_back = spark.read.parquet(path)
    elif fmt == "jsonl":
        # loader-facing text shards (many trainer data loaders consume
        # gzip jsonl directly): same versioned-zone naming, gzip codec,
        # one directory per shard
        from ..io import parquet_io as _pio

        path = os.path.join(
            zones.root, _pio.versioned_name("training_shards", zones.git_sha)
        )
        sharded.write.partitionBy("shard_id").option(
            "compression", "gzip"
        ).json(path)
        read_back = spark.read.json(path)
    else:
        raise ValueError(f"fmt must be 'parquet' or 'jsonl': {fmt!r}")
    stats = (
        read_back
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(tokens_col).cast("long")).alias("n_tokens"),
            F.min("shuffle_pos").alias("first_pos"),
            F.max("shuffle_pos").alias("last_pos"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "shard_tokens": int(shard_tokens),
        "tokens_col": tokens_col,
        "n_shards": len(stats),
        "total_tokens": int(sum(r["n_tokens"] for r in stats)),
        "shards": [
            {
                "shard_id": int(r["shard_id"]),
                "path": f"shard_id={int(r['shard_id'])}",
                "n_rows": int(r["n_rows"]),
                "n_tokens": int(r["n_tokens"]),
                "first_pos": int(r["first_pos"]),
                "last_pos": int(r["last_pos"]),
            }
            for r in stats
        ],
    }
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return path


def stage_seq_layout(
    spark: SparkSession,
    zones: PipelineZones,
    seq_len: int = 2048,
    source: str = "corpus_shuffled",
) -> str:
    """Trainer-facing export, causal-LM flavor: the GPT-style
    concat-and-split placement over the shuffled corpus
    (``curation.concat_split_layout``) plus the per-sequence span
    manifest (``curation.sequence_manifest``), written as two products
    of ONE zone version: the layout at the root and the spans
    hive-partitioned under ``_spans`` ordered by sequence — the pair a
    loader needs to materialize any fixed-length training sequence
    (and its attention-mask document boundaries) without a scan.

    Unlike ``stage_export_shards`` documents DO split across sequence
    boundaries here — the standard pretraining layout; both exports can
    coexist on one shuffled order.
    """
    import os

    from ..operators import curation as cur_ops

    shuffled = zones.read(spark, source)
    tokens_col = next(
        (c for c in ("pack_tokens", "n_tokens") if c in shuffled.columns), None
    )
    if tokens_col is None:
        shuffled = shuffled.withColumn(
            "n_tokens", text_ops.token_count("text").cast("long")
        )
        tokens_col = "n_tokens"
    id_col = "pack_id" if "pack_id" in shuffled.columns else "doc_id"
    layout = cur_ops.concat_split_layout(
        shuffled, order_col="shuffle_pos", tokens_col=tokens_col,
        seq_len=seq_len, eager_unpersist=True,
    )
    path = zones.write(layout, "sequence_layout", range_by=["seq_id"])
    spans = cur_ops.sequence_manifest(
        spark.read.parquet(path), id_col=id_col, tokens_col=tokens_col,
        seq_len=seq_len,
    )
    spans.repartitionByRange(
        max(2, spans.sparkSession.sparkContext.defaultParallelism // 4),
        "seq_id",
    ).sortWithinPartitions("seq_id", "begin_in_seq").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "_spans"))
    return path


def stage_augment(
    spark: SparkSession,
    zones: PipelineZones,
    fim_rate: float = 0.5,
    fim_salt: str = "fim0",
    source: str = "corpus_deduped",
) -> str:
    """Training-format augmentation (FIM rewrite on an md5-selected
    ``fim_rate`` fraction — Bavarian et al. 2022's joint objective mix)
    applied to the curated survivors right before packing, so packs and
    shards carry the transformed text.  Scan-shaped and deterministic
    per (salt, doc_id); re-salting per epoch re-draws the cut points."""
    from ..operators import augment as aug_ops

    docs = zones.read(spark, source)
    out = aug_ops.fim_transform(docs, rate=fim_rate, salt=fim_salt)
    return zones.write(out, "corpus_augmented", range_by=["doc_id"])


def stage_pack(
    spark: SparkSession,
    zones: PipelineZones,
    budget: int = 1024,
    source: str = "corpus_deduped",
) -> str:
    deduped = zones.read(spark, source)
    return zones.write(
        text_ops.pack_documents(deduped, budget=budget), "corpus_packs"
    )


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame | None,
    zone_root: str,
    git_sha: str = "local",
    budget: int = 1024,
    jaccard_threshold: float = 0.8,
    skip_fresh: bool = False,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.35,
    semantic_backend: str = "arrow",
    scrub_spans: bool = False,
    span_n: int = 8,
    scrub_lines: bool = False,
    segment_langs: bool = False,
    line_min_docs: int = 3,
    benchmark: DataFrame | None = None,
    decontam_n: int = 13,
    shuffle_salt: str | None = None,
    shard_tokens: int | None = None,
    seq_len: int | None = None,
    fim_rate: float | None = None,
    normalize: bool = False,
    unicode_form: str | None = None,
    url_col: str | None = None,
    classifier_weights: DataFrame | None = None,
    classifier_bias: int = 0,
    classifier_threshold: float = 0.0,
    classifier_dim: int = 2**18,
    warc_path: str | None = None,
    warc_on_error: str = "skip",
    extract_html: bool = False,
    diversity_budget: int | None = None,
    diversity_strata: int = 8,
) -> dict[str, str]:
    """The full curation DAG through versioned zones.

    ``skip_fresh`` gives the same incremental-orchestration semantics
    as ``run_full_pipeline``: a stage is skipped when its product zone
    is at least as new as every upstream zone it derives from (and, per
    the round-3 lesson, a skip checks EVERY product the stage writes).

    With ``embeddings`` provided, a semantic-dedup stage (SemDeDup
    shape: cosine edges → CC → representative) runs between text dedup
    and packing, on the Arrow/BLAS backend by default.  With
    ``scrub_spans`` the surviving corpus additionally has duplicated
    ≥``span_n``-token substrings cut before packing (doc-level dedup
    removes whole near-identical documents; span scrub removes the
    repeated boilerplate INSIDE otherwise-unique documents).

    With ``benchmark`` provided, eval-set decontamination (the
    Bloom-prefiltered exact path) runs between the quality gate and
    dedup — contaminated docs must not reach pair generation or packs.
    With ``scrub_lines`` a line-grain boilerplate cut
    (``text.scrub_boilerplate_lines``) runs first of all the dedup-side
    stages — the RefinedWeb ordering (line dedup before document
    dedup), so shared chrome can't inflate shingle overlap.
    With ``shuffle_salt`` set, the packed corpus gets its final
    deterministic training-order permutation as a ``corpus_shuffled``
    zone (one salt per epoch); ``seq_len`` additionally exports the
    concat-and-split sequence layout + per-sequence span manifest
    (``sequence_layout`` zone, docs splitting across fixed-length
    sequences — the causal-LM pretraining view; can coexist with the
    no-split shard export below); adding ``shard_tokens`` additionally
    cuts that order into contiguous token-budget shards written
    hive-partitioned on ``shard_id`` (``training_shards`` zone — the
    directory-per-shard layout a trainer's loader consumes).
    With ``fim_rate`` a fill-in-the-middle augmentation stage rewrites
    that fraction of the curated survivors before packing
    (``corpus_augmented`` zone; salt follows ``shuffle_salt`` so an
    epoch re-salt re-draws cut points).
    With ``normalize`` (optionally ``unicode_form="NFKC"``) the corpus
    is byte-canonicalized up front; with ``url_col`` refetch duplicates
    collapse on the canonical URL before any content pass (requires
    ``normalize`` — the stage reads the normalized zone).
    With ``classifier_weights`` a fitted hashed-linear model gates the
    corpus right after the heuristic quality filter (model-based
    quality pass before the expensive pair-generation stages).
    With ``extract_html`` (requires ``warc_path``) the ingested HTML
    payloads are reduced to rendered text + title before any text
    stage runs (``corpus_extracted`` zone).
    With ``diversity_budget`` (requires ``embeddings``) a
    cluster-balanced budget selection runs after all dedup/scrub
    stages and before augmentation/packing (``corpus_diverse`` zone):
    ``diversity_strata`` centroids train on the survivors' embeddings
    and exactly ``min(diversity_budget, N)`` documents survive, topic
    mix preserved.
    """
    from ..io import parquet_io

    zones = PipelineZones(zone_root, git_sha)
    out: dict[str, str] = {}

    # crawl front door (r9): with ``warc_path`` the corpus ENTERS as
    # WARC bytes — ingest writes the documents-shaped corpus_ingested
    # zone and the rest of the DAG proceeds identically.  The external
    # archive isn't a zone, so skip_fresh only checks zone existence.
    filter_upstreams: list[str] = []
    if warc_path is not None:
        if docs is not None:
            raise ValueError("pass docs OR warc_path, not both")
        if skip_fresh and zones.is_fresh("corpus_ingested"):
            out["corpus_ingested"] = parquet_io.latest_version_path(
                zone_root, "corpus_ingested"
            )
        else:
            out["corpus_ingested"] = stage_ingest_warc(
                spark, warc_path, zones, on_error=warc_on_error
            )
        docs = zones.read(spark, "corpus_ingested")
        filter_upstreams = ["corpus_ingested"]
    elif docs is None:
        raise ValueError("docs is required when warc_path is not given")
    if extract_html:
        if warc_path is None:
            raise ValueError(
                "extract_html reads the corpus_ingested zone (pass warc_path)"
            )
        if skip_fresh and zones.is_fresh("corpus_extracted", *filter_upstreams):
            out["corpus_extracted"] = parquet_io.latest_version_path(
                zone_root, "corpus_extracted"
            )
        else:
            out["corpus_extracted"] = stage_extract_html(spark, zones)
        docs = zones.read(spark, "corpus_extracted")
        filter_upstreams = ["corpus_extracted"]
    if normalize or unicode_form is not None:
        if skip_fresh and zones.is_fresh("corpus_normalized", *filter_upstreams):
            out["corpus_normalized"] = parquet_io.latest_version_path(
                zone_root, "corpus_normalized"
            )
        else:
            out["corpus_normalized"] = stage_normalize(
                spark, docs, zones, unicode_form=unicode_form
            )
        docs = zones.read(spark, "corpus_normalized")
        filter_upstreams = ["corpus_normalized"]
    if url_col is not None:
        if not (normalize or unicode_form is not None):
            raise ValueError(
                "url_col requires the normalize stage (url dedup reads "
                "the corpus_normalized zone)"
            )
        if skip_fresh and zones.is_fresh("corpus_url_deduped", "corpus_normalized"):
            out["corpus_url_deduped"] = parquet_io.latest_version_path(
                zone_root, "corpus_url_deduped"
            )
        else:
            out["corpus_url_deduped"] = stage_url_dedup(
                spark, zones, url_col=url_col
            )
        docs = zones.read(spark, "corpus_url_deduped")
        filter_upstreams = ["corpus_url_deduped"]

    # the quality gate's freshness depends on whichever front-door zone
    # feeds it (none when docs come straight from the caller)
    if skip_fresh and zones.is_fresh("corpus_filtered", *filter_upstreams):
        out["corpus_filtered"] = parquet_io.latest_version_path(
            zone_root, "corpus_filtered"
        )
    else:
        out["corpus_filtered"] = stage_quality(spark, docs, zones)

    dedup_source = "corpus_filtered"
    if classifier_weights is not None:
        if skip_fresh and zones.is_fresh("corpus_classified", dedup_source):
            out["corpus_classified"] = parquet_io.latest_version_path(
                zone_root, "corpus_classified"
            )
        else:
            out["corpus_classified"] = stage_classify(
                spark,
                zones,
                classifier_weights,
                bias_nano=classifier_bias,
                threshold=classifier_threshold,
                dim=classifier_dim,
                source=dedup_source,
            )
        dedup_source = "corpus_classified"
    if segment_langs:
        if skip_fresh and zones.is_fresh("corpus_lang_segmented", dedup_source):
            out["corpus_lang_segmented"] = parquet_io.latest_version_path(
                zone_root, "corpus_lang_segmented"
            )
        else:
            out["corpus_lang_segmented"] = stage_lang_segment(
                spark, zones, source=dedup_source
            )
        dedup_source = "corpus_lang_segmented"
    if scrub_lines:
        if skip_fresh and zones.is_fresh("corpus_line_scrubbed", dedup_source):
            out["corpus_line_scrubbed"] = parquet_io.latest_version_path(
                zone_root, "corpus_line_scrubbed"
            )
        else:
            out["corpus_line_scrubbed"] = stage_line_scrub(
                spark, zones, min_docs=line_min_docs, source=dedup_source
            )
        dedup_source = "corpus_line_scrubbed"
    if benchmark is not None:
        decon_source = dedup_source
        dedup_source = "corpus_decontaminated"
        if skip_fresh and zones.is_fresh("corpus_decontaminated", decon_source):
            out["corpus_decontaminated"] = parquet_io.latest_version_path(
                zone_root, "corpus_decontaminated"
            )
        else:
            out["corpus_decontaminated"] = stage_decontaminate(
                spark, zones, benchmark, n=decontam_n, source=decon_source
            )

    if skip_fresh and zones.is_fresh("corpus_deduped", dedup_source):
        out["corpus_deduped"] = parquet_io.latest_version_path(
            zone_root, "corpus_deduped"
        )
    else:
        out["corpus_deduped"] = stage_dedup(
            spark, zones, jaccard_threshold=jaccard_threshold,
            source=dedup_source,
        )

    pack_source = "corpus_deduped"
    if embeddings is not None:
        pack_source = "corpus_semantic"
        if skip_fresh and zones.is_fresh("corpus_semantic", "corpus_deduped"):
            out["corpus_semantic"] = parquet_io.latest_version_path(
                zone_root, "corpus_semantic"
            )
        else:
            out["corpus_semantic"] = stage_semantic_dedup(
                spark, zones, embeddings,
                threshold=semantic_threshold, backend=semantic_backend,
            )

    if scrub_spans:
        scrub_source = pack_source
        pack_source = "corpus_scrubbed"
        if skip_fresh and zones.is_fresh("corpus_scrubbed", scrub_source):
            out["corpus_scrubbed"] = parquet_io.latest_version_path(
                zone_root, "corpus_scrubbed"
            )
        else:
            out["corpus_scrubbed"] = stage_span_scrub(
                spark, zones, span_n=span_n, source=scrub_source
            )

    if diversity_budget is not None:
        if embeddings is None:
            raise ValueError(
                "diversity_budget requires embeddings (strata are trained "
                "on the survivors' vectors)"
            )
        div_source = pack_source
        pack_source = "corpus_diverse"
        if skip_fresh and zones.is_fresh("corpus_diverse", div_source):
            out["corpus_diverse"] = parquet_io.latest_version_path(
                zone_root, "corpus_diverse"
            )
        else:
            out["corpus_diverse"] = stage_diversity(
                spark, zones, embeddings,
                diversity_budget=diversity_budget,
                n_strata=diversity_strata, source=div_source,
            )

    if fim_rate is not None:
        aug_source = pack_source
        pack_source = "corpus_augmented"
        if skip_fresh and zones.is_fresh("corpus_augmented", aug_source):
            out["corpus_augmented"] = parquet_io.latest_version_path(
                zone_root, "corpus_augmented"
            )
        else:
            out["corpus_augmented"] = stage_augment(
                spark, zones, fim_rate=fim_rate,
                fim_salt=shuffle_salt or "fim0", source=aug_source,
            )

    if skip_fresh and zones.is_fresh("corpus_packs", pack_source):
        out["corpus_packs"] = parquet_io.latest_version_path(zone_root, "corpus_packs")
    else:
        out["corpus_packs"] = stage_pack(spark, zones, budget=budget, source=pack_source)

    if shuffle_salt is not None:
        if skip_fresh and zones.is_fresh("corpus_shuffled", "corpus_packs"):
            out["corpus_shuffled"] = parquet_io.latest_version_path(
                zone_root, "corpus_shuffled"
            )
        else:
            out["corpus_shuffled"] = stage_shuffle(
                spark, zones, salt=shuffle_salt
            )
        if shard_tokens is not None:
            if skip_fresh and zones.is_fresh("training_shards", "corpus_shuffled"):
                out["training_shards"] = parquet_io.latest_version_path(
                    zone_root, "training_shards"
                )
            else:
                out["training_shards"] = stage_export_shards(
                    spark, zones, shard_tokens=shard_tokens
                )
        if seq_len is not None:
            if skip_fresh and zones.is_fresh("sequence_layout", "corpus_shuffled"):
                out["sequence_layout"] = parquet_io.latest_version_path(
                    zone_root, "sequence_layout"
                )
            else:
                out["sequence_layout"] = stage_seq_layout(
                    spark, zones, seq_len=seq_len
                )
    return out
