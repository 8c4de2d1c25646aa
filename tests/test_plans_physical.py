"""Physical-plan audits: guard the scale-critical plan properties so a
refactor can't silently regress them (SURVEY §4 / instructions: filters
pushed down, dims broadcast, codegen on the hot path)."""

from __future__ import annotations

import contextlib
import io

import pytest

from peskas_mozambique_data_pipeline_spark import registry

SF = "/root/testdata/sf0.001"


def _q(name):
    """Registry lookup with retirement fallback: consolidated rows stay
    plan-audited through their original functions (the union legs call
    them verbatim, so the physical plan under audit is the live one)."""
    return registry.SPARK_QUERIES.get(name) or registry.RETIRED_QUERIES[name]


def plan_of(df, mode: str = "formatted") -> str:
    # fetch the explain string straight from the JVM: redirect_stdout
    # swaps sys.stdout process-wide, which breaks under the thread-pooled
    # whole-registry audit below
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def test_lw_model_filter_pushed_to_scan(spark):
    plan = plan_of(registry.SPARK_QUERIES["lw_model"](spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_dim_enrichment_broadcasts_dims(spark):
    # retired registry row (r9 consolidation) — same enrich chain as
    # topk_other; the plan property is still asserted on the original
    plan = plan_of(registry.RETIRED_QUERIES["dim_enrichment"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_trip_rollup_prunes_columns(spark):
    plan = plan_of(registry.SPARK_QUERIES["trip_rollup"](spark, SF), "simple")
    lineitem_scan = next(
        seg for seg in plan.split("FileScan parquet") if "lineitem.parquet" in seg
    )
    read_schema = lineitem_scan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 needed lineitem columns are read, not all 11
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_returnflag" not in read_schema and "l_tax" not in read_schema


def test_trip_rollup_whole_stage_codegen(spark):
    plan = plan_of(registry.SPARK_QUERIES["trip_rollup"](spark, SF), "codegen")
    assert "WholeStageCodegen subtrees" in plan


def test_no_python_udfs_in_any_registry_query(spark):
    """Every registry query must stay JVM-side: no row-at-a-time Python
    evaluation nodes anywhere in any plan (the whole-corpus guarantee
    that text/dedup/similarity scale at scan speed).

    The 100 query builds (each pays its eager checkpoints) are
    independent, so they run from a small thread pool — concurrent
    Spark jobs back-fill the session's cores instead of serializing 100
    build chains (the single biggest wall-time item in the suite).
    """
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        name, fn = item
        plan = plan_of(fn(spark, SF), "simple")
        assert "BatchEvalPython" not in plan, f"{name} fell back to Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} uses a Pandas UDF"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(check, registry.SPARK_QUERIES.items()))


def test_monthly_median_single_exchange_for_agg(spark):
    # the fact side shuffles once for the groupBy; the spine/dims side is
    # broadcast so densification adds no fact-table shuffle
    plan = plan_of(registry.SPARK_QUERIES["monthly_median"](spark, SF))
    assert plan.count("BroadcastExchange") >= 2  # customer, nation, spine x dims


def test_fuzzy_dedup_no_cartesian(spark):
    # pair generation must be a length-block equi-join — a cross join
    # over distinct names is an N² seed at scale
    plan = plan_of(registry.SPARK_QUERIES["fuzzy_dedup"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_init_no_global_sort_over_corpus(spark):
    # build_ivf_index seed selection must compile to TakeOrderedAndProject
    # (per-partition top-C, driver merge), never a RangePartitioning
    # global sort or a full-corpus single-partition window
    from pyspark.sql import functions as F
    from peskas_mozambique_data_pipeline_spark.operators import similarity

    corpus = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    _, centroids = similarity.build_ivf_index(corpus, n_centroids=4, n_iters=1)
    plan = plan_of(centroids, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_geo_rollup_join_broadcasts_layer_and_rollup(spark):
    # the geo layer and the rollup are admin-region sized: every join
    # in the composition must be broadcast, never a sort-merge
    plan = plan_of(_q("geo_rollup_join")(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # nation dim, region dim, rollup


def test_monthly_median_no_smj(spark):
    # densification joins (spine x dims scaffold, fact side) all stay
    # broadcast — regression guard for the complete_months fact hint
    plan = plan_of(registry.SPARK_QUERIES["monthly_median"](spark, SF), "simple")
    assert "SortMergeJoin" not in plan


def test_validate_surveys_no_forced_broadcast_in_dag(spark):
    # stage 2's input must be derived by anti-joining the (small)
    # flagged-id set — never a forced broadcast of the no-flag id
    # complement, which has full submission cardinality at scale.
    # With no taxa bounds the validation DAG should carry ZERO
    # broadcast hints; AQE picks strategies from actual sizes.
    import datetime

    from peskas_mozambique_data_pipeline_spark.plans import validate as val

    df = spark.createDataFrame(
        [
            (
                "s1", "1", "1", "SNA", 30.0, 5.0, 2.0, 10.0, 10.0, 6.0,
                3.0, 100.0, datetime.datetime(2024, 3, 10, 18, 0),
                datetime.datetime(2024, 3, 10, 6, 0), "handline", "Reef", "Palma",
            )
        ],
        "submission_id string, survey_activity string, catch_outcome string, "
        "catch_taxon string, length double, n_individuals double, "
        "n_buckets double, weight_bucket double, catch_kg double, "
        "trip_duration double, n_fishers double, catch_price double, "
        "submission_date timestamp, landing_date timestamp, "
        "gear_type string, habitat string, district string",
    )
    validated, flags = val.validate_surveys(df)
    for out in (validated, flags):
        plan = plan_of(out, "extended")
        analyzed = plan.split("== Optimized Logical Plan ==")[0]
        assert "ResolvedHint" not in analyzed, "forced broadcast hint in validation DAG"


def test_validate_plan_one_frame_and_flags_zone(spark, tmp_path):
    # both outputs are projections of ONE per-submission aggregate: the
    # flags plan carries no full-outer merge of the flag stages, and
    # each output scans preprocessed once, shuffles once and joins
    # nothing; collect_list makes the aggregate an ObjectHashAggregate,
    # so no SortAggregate (and no sort) either
    import datetime

    from peskas_mozambique_data_pipeline_spark.plans import validate as val

    pre_dir = str(tmp_path / "preprocessed")
    spark.createDataFrame(
        [
            (
                "s1", "1", "1", "SNA", 30.0, 5.0, 2.0, 10.0, 10.0, 6.0,
                3.0, 100.0, datetime.datetime(2024, 3, 10, 18, 0),
                datetime.datetime(2024, 3, 10, 6, 0), "handline", "Reef", "Palma",
            )
        ],
        "submission_id string, survey_activity string, catch_outcome string, "
        "catch_taxon string, length double, n_individuals double, "
        "n_buckets double, weight_bucket double, catch_kg double, "
        "trip_duration double, n_fishers double, catch_price double, "
        "submission_date timestamp, landing_date timestamp, "
        "gear_type string, habitat string, district string",
    ).write.parquet(pre_dir)
    pre = spark.read.parquet(pre_dir)
    _, flags = val.validate_surveys(pre)
    plan = plan_of(flags, "simple")
    assert "FullOuter" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2

    validated, _ = val.validate_surveys(pre)
    for out in (validated, flags):
        plan = plan_of(out, "simple")
        assert plan.count("FileScan parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan
        assert "SortAggregate" not in plan and "ObjectHashAggregate" in plan


def test_preprocess_is_one_projection_of_raw(spark, tmp_path):
    # the trip-level columns and the exploded catch records come from
    # one scan of raw: no full-join merge on the submission id, no
    # shuffle, and no union/stack melt of the length bins; the LW
    # coefficients broadcast
    from peskas_mozambique_data_pipeline_spark.plans import preprocess as pre
    from tests.test_pipeline import RAW_COLS, _row

    raw_dir = str(tmp_path / "raw")
    spark.createDataFrame(
        [_row("s1"), _row("s2")], ", ".join(f"`{c}` string" for c in RAW_COLS)
    ).write.parquet(raw_dir)
    lw = spark.createDataFrame([("SNA", 0.02, 2.9)], "catch_taxon string, a double, b double")
    plan = plan_of(pre.preprocess_landings(spark.read.parquet(raw_dir), lw), "simple")
    assert plan.count("FileScan") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Union" not in plan and "Expand" not in plan


def test_decontamination_broadcasts_benchmark_no_smj(spark):
    # the benchmark gram set must broadcast; the corpus must never
    # shuffle on a sort-merge join (hits-only aggregation)
    plan = plan_of(registry.SPARK_QUERIES["decontamination"](spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_site_stats_full_pushes_shipdate_filter(spark):
    plan = plan_of(registry.SPARK_QUERIES["site_stats_full"](spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_c4_filter_is_pure_scan(spark):
    # the quality gate must stay a scan: no exchange anywhere
    plan = plan_of(_q("c4_filter")(spark, SF), "simple")
    assert "Exchange" not in plan


def test_doc_pack_two_exchanges(spark):
    # one shuffle for the stratum window + one for the pack rollup;
    # anything more means the cumsum window stopped reusing its
    # partitioning for the groupBy
    plan = plan_of(registry.SPARK_QUERIES["doc_pack"](spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_corpus_quality_stage_no_join(spark):
    # curate_quality gates with a direct filter — a semi-join against a
    # flags table derived from the same corpus would scan it twice
    from peskas_mozambique_data_pipeline_spark.plans import corpus
    from peskas_mozambique_data_pipeline_spark.session import read_table

    docs = read_table(spark, SF, "documents")
    plan = plan_of(corpus.curate_quality(docs), "simple")
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_vocab_coverage_distributed_topk(spark):
    # each top-k must compile to TakeOrderedAndProject (per-partition
    # top-k + driver merge of k rows), never a global Sort
    plan = plan_of(_q("vocab_coverage")(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node


def test_unigram_scoring_join_is_broadcast(spark):
    # the vocab-sized model must broadcast into the scoring join: a
    # shuffled join would move the entire exploded corpus on the
    # Zipf-skewed token key ("the" is a mega-hot partition at 100 TB)
    plan = plan_of(_q("unigram_logloss")(spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_term_stats_broadcasts_vocab_tables(spark):
    # the consolidated bigram_pmi + tfidf_terms union: every
    # vocab-bounded count table (unigram counts ×2, df table, totals)
    # must broadcast — a shuffled join would move the exploded corpus
    # on Zipf-skewed token keys ("the" is a mega-hot partition at
    # 100 TB)
    plan = plan_of(_q("term_stats")(spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_topk_single_exchange(spark):
    # features are scan-local; the only shuffle is the stratum window
    plan = plan_of(_q("quality_topk")(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_dup_spans_no_cartesian(spark):
    plan = plan_of(registry.SPARK_QUERIES["dup_span_audit"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_exact_no_cartesian(spark):
    # prefix filtering must stay an equi-join on the hash key — a plan
    # regression to a cross product would be quadratic in the corpus
    plan = plan_of(_q("jaccard_exact")(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_exact_no_window_on_shingle_hash(spark):
    # document frequency must come from groupBy+join-back, never a
    # COUNT window partitioned on the shingle-hash key: shingle
    # frequency is Zipfian and a window colocates every instance of a
    # hot hash in ONE task (AQE splits join skew, not window skew).
    # The only window allowed on the hash key 'h' is none; the per-doc
    # prefix-rank window (partition by _id) stays.
    import re

    plan = plan_of(_q("jaccard_exact")(spark, SF), "simple")
    for m in re.finditer(r"windowspecdefinition\((\w+)#", plan):
        assert m.group(1) != "h", "COUNT window on shingle-hash key"


def test_corpus_diff_joins_digests_not_text(spark):
    # the full-outer join must ship md5 digests, never the text column
    plan = plan_of(_q("corpus_diff")(spark, SF), "simple")
    join_seg = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    scans = [s for s in plan.split("FileScan parquet") if "documents.parquet" in s]
    for s in scans:
        read_schema = s.split("ReadSchema:")[1].splitlines()[0]
        assert "text" in read_schema  # digest needs text at the scan...
    # ...but no Exchange carries the raw text: the digest projection
    # happens below the join, so the shuffled row is (id, digest, attrs)
    for seg in plan.split("Exchange")[1:]:
        first = seg.splitlines()[0]
        assert "text#" not in first


def test_source_cap_windows_only_over_cap_groups(spark):
    # the under-cap branch must reach the union without a window; the
    # hot-group tag join must be broadcast
    plan = plan_of(_q("source_cap")(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_drift_no_cartesian_blowup(spark):
    # the only cross join allowed is against the 1-row corpus total
    plan = plan_of(_q("token_drift")(spark, SF), "simple")
    assert "CartesianProduct" not in plan


def test_ann_pq_broadcasts_codebooks_no_global_sort(spark):
    # codebook assignment joins must broadcast the m*k-row codebook;
    # seed init must be TakeOrderedAndProject (never a corpus-wide
    # sort); the only nested-loop join is the broadcast ADC table
    plan = plan_of(registry.RETIRED_QUERIES["ann_pq"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_metrics_table_broadcasts_nation_single_expand(spark):
    # the dim chain must broadcast inside the trip-grain producer; the
    # wide->long melt must be one Expand node (no join-based unpivot)
    from peskas_mozambique_data_pipeline_spark.registry_curation import (
        _metric_inputs,
    )

    trips, _catch = _metric_inputs(spark, SF, materialize=False)
    producer = plan_of(trips, "simple")
    assert "BroadcastHashJoin" in producer
    assert "CartesianProduct" not in producer

    plan = plan_of(registry.SPARK_QUERIES["metrics_table"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Expand") >= 1
    # the scan-once property the checkpoint buys: the registered plan
    # reads the materialized trip grain, never the parquet fact again
    assert "lineitem" not in plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    # the bucketized range join must plan as an equi-join on
    # (user_id, bin) — a raw theta join would fall into a
    # BroadcastNestedLoopJoin / cartesian, quadratic in events
    plan = plan_of(registry.SPARK_QUERIES["interval_join"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_scoring_join_is_broadcast(spark):
    # same posture as unigram_logloss: the vocab-bounded score table
    # broadcasts into the instance-grain join; never a shuffle on the
    # Zipf-skewed token key
    # dsir_weights retired into weights_audit at r12 (legs verbatim)
    plan = plan_of(registry.RETIRED_QUERIES["dsir_weights"](spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_conversion_funnel_no_event_grain_join(spark):
    # the funnel is a user-keyed conditional-min aggregate chain; a
    # regression to per-stage self-joins on the events table would
    # multiply the corpus scans
    plan = plan_of(
        registry.RETIRED_QUERIES["conversion_funnel"](spark, SF), "simple"
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 1  # events scanned once


def test_resample_and_dsir_scan_corpus_exactly_twice(spark):
    # the stat frames (domain token counts / vocab model) are
    # checkpointed, so the corpus parquet appears exactly twice per
    # plan: the stat build + the row-grain join. A regression re-runs
    # the corpus aggregate through every downstream lineage branch.
    # both legs retired into weights_audit at r12 (functions verbatim)
    for name in ("temperature_resample", "dsir_weights"):
        plan = plan_of(registry.RETIRED_QUERIES[name](spark, SF), "formatted")
        assert plan.count("Scan parquet") == 2, name


def test_round6_additions_no_cartesian(spark):
    """The pair generators in the new graph/basket/containment queries
    must all be equi-joins (basket key, shingle hash, adjacency key) —
    a CartesianProduct would mean the blocking collapsed."""
    for name in ("triangle_count", "assoc_rules", "containment"):
        plan = plan_of(registry.SPARK_QUERIES[name](spark, SF), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25_zero_corpus_shuffle(spark):
    """BM25 scores from scan-local array intrinsics: the plan must
    have NO explode, NO shuffle join, and NO hash-partitioned exchange
    of corpus rows — only the 1-row stats aggregate (single-partition
    exchange of partials), its broadcast back, and a TakeOrdered
    top-k."""
    from peskas_mozambique_data_pipeline_spark.registry_text import q_bm25_search

    simple = plan_of(q_bm25_search(spark, SF), "simple")
    assert "Generate" not in simple, "per-term tf must not explode"
    assert "SortMergeJoin" not in simple
    assert "Exchange hashpartitioning" not in simple
    assert "TakeOrderedAndProject" in simple


def test_time_weighted_avg_single_shuffle(spark):
    """TWAP = one exchange: the per-key window's hash partitioning is
    reused by the groupBy on the same keys (no second shuffle of the
    raw rows)."""
    plan = plan_of(
        registry.SPARK_QUERIES["time_weighted_avg"](spark, SF), "simple"
    )
    assert plan.count("Exchange") == 1


def test_mix_quality_no_global_window(spark):
    """Adjacency must come from the pos+1 equi-join, never a
    lead() over a global orderBy (single-partition at scale)."""
    plan = plan_of(registry.SPARK_QUERIES["mix_quality"](spark, SF))
    assert "Window" not in plan
    simple = plan_of(registry.SPARK_QUERIES["mix_quality"](spark, SF), "simple")
    assert "CartesianProduct" not in simple
    # Exchange SinglePartition is allowed ONLY for the 1-row n_all
    # stats aggregate (a register-sized partial agg); the hazard this
    # test guards — forcing ALL ROWS onto one partition — is excluded
    # by the Window assert above plus: no global Sort anywhere in the
    # plan (Spark prints the global flag as `Sort [...], true, 0`).
    import re

    assert not re.search(r"Sort \[[^\]]*\], true", simple), (
        "global sort in mix_quality plan"
    )


def test_bm25_indexed_broadcasts_vocab_and_dims(spark):
    # the inverted tier's postings filter (query vocab), df table and
    # 1-row stats all broadcast — a shuffled join on the Zipf-hot term
    # key would move the postings table twice.  The postings frame is
    # checkpointed (it feeds df counts AND scoring), so the plan after
    # materialization holds only the vocab-sized df aggregate and the
    # final per-doc rollup; the single corpus explode+tf shuffle
    # happened once, inside the checkpoint.
    plan = plan_of(_q("bm25_indexed")(spark, SF), "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Generate explode") == 0  # corpus exploded pre-plan


def test_corpus_shuffle_no_global_window(spark):
    # the dense rank must come from range exchange + per-partition
    # row_number — a global-order window (empty partitionBy) would
    # collapse the corpus into one task.  Spark prints a global sort
    # as `Sort [...], true`; the only windows allowed are keyed by the
    # partition id.
    import re

    df = registry.SPARK_QUERIES["corpus_shuffle"](spark, SF)
    plan = plan_of(df, "simple")
    assert not re.search(r"Sort \[[^\]]*\], true", plan), plan
    assert "SinglePartition" not in plan


def test_bloom_probe_phase_is_joinless_and_codegen(spark):
    """Phase 1 of bloom decontamination: the corpus side must probe
    the broadcast bitmask with pure scan-local arithmetic — the only
    join in the probe plan is the 1-row bloom broadcast (nested-loop
    on a literal single row), never a shuffled or hashed join of the
    corpus, and no Python evaluation anywhere."""
    from peskas_mozambique_data_pipeline_spark.operators.text import (
        build_ngram_bloom,
        token_ngrams,
    )
    from peskas_mozambique_data_pipeline_spark.session import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF, "documents")
    bloom = build_ngram_bloom(docs.limit(5), n=5, n_words=16, k=3)
    probed = docs.crossJoin(F.broadcast(bloom)).withColumn(
        "_grams", F.array_distinct(token_ngrams("text", 5))
    )
    plan = plan_of(probed, "simple")
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan.split("BroadcastNestedLoopJoin")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compact_zone_default_is_shuffle_free(spark, tmp_path):
    """The coalesce compaction path must add NO exchange — merging
    read partitions is the whole point (a shuffle would re-move every
    byte of a 100 TB zone)."""
    from pyspark.sql import functions as F

    from peskas_mozambique_data_pipeline_spark.io import parquet_io

    zone = str(tmp_path / "z")
    df = spark.range(0, 500).withColumn("v", F.col("id"))
    parquet_io.write_versioned(df.repartition(10), zone, "t")
    src = parquet_io.latest_version_path(zone, "t")
    compacted = spark.read.parquet(src).coalesce(1)
    plan = plan_of(compacted, "simple")
    assert "Exchange" not in plan


def test_ann_int8_integer_folds_and_broadcast_queries(spark):
    """int8 retrieval (r8): queries broadcast against the corpus (no
    corpus shuffle for scoring), no cartesian fallback beyond the
    intended broadcast nest, and no float32 embedding column survives
    into the scoring side's read schema beyond the quantization scan."""
    plan = plan_of(_q("ann_int8")(spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # top-k is ONE window rank partitioned by query (per-query grain),
    # never a global sort of all scored pairs
    assert "rank" in plan and plan.count("Window") >= 1


def test_pooled_ann_one_shuffle_for_pooling(spark):
    """Mean pooling is a single (group, pos) hash aggregate: exactly
    one exchange feeds the per-position means; queries then broadcast
    for scoring (no pooled-corpus re-shuffle)."""
    plan = plan_of(_q("pooled_ann")(spark, SF), "simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_sketch_audit_shares_one_token_corpus(spark):
    """The consolidation's point: both sketches read the SAME
    materialized token corpus (localCheckpoint scan), not two parquet
    re-reads of documents."""
    # sketch_audit retired into sketchfam_audit at r12 (legs verbatim)
    plan = plan_of(registry.RETIRED_QUERIES["sketch_audit"](spark, SF), "simple")
    assert "Scan ExistingRDD" in plan  # the checkpointed token corpus
    assert "documents.parquet" not in plan  # no second corpus scan


def test_ts_audit_shares_one_spine(spark):
    """Both time-series branches read the materialized daily spine;
    orders/customer parquet never re-scan after the checkpoint."""
    plan = plan_of(registry.SPARK_QUERIES["ts_audit"](spark, SF), "simple")
    assert "Scan ExistingRDD" in plan
    assert "orders.parquet" not in plan and "customer.parquet" not in plan


def test_drift_audit_computes_each_assignment_pass_once(spark):
    """embedding_drift: the occupancy spine is checkpointed before the
    totals broadcast, so each corpus assignment pass appears ONCE in
    the plan (without the cut, `both` feeding two consumers re-runs
    both full corpus scans — a 2x job at 100 TB).  Centroids broadcast
    against the corpus."""
    plan = plan_of(registry.SPARK_QUERIES["drift_audit"](spark, SF), "simple")
    assert "Scan ExistingRDD" in plan           # the checkpointed spine
    assert "embeddings.parquet" not in plan     # no corpus re-scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lang_segment_no_window_over_corpus(spark):
    """segment_languages: majority + share via groupBy/max_by — no
    window over the exploded line corpus (the documented shape)."""
    plan = plan_of(registry.SPARK_QUERIES["lang_segment"](spark, SF), "simple")
    assert "Window" not in plan


def test_threshold_audit_window_after_score_groupby(spark):
    """calibrate_threshold: the global cumulative window runs OVER THE
    DISTINCT-SCORE aggregate, not the corpus — the per-score groupBy
    must appear below the Window in the plan."""
    plan = plan_of(
        registry.SPARK_QUERIES["threshold_audit"](spark, SF), "simple"
    )
    w = plan.index("Window")
    agg_positions = [i for i in range(len(plan)) if plan.startswith("HashAggregate", i)]
    assert any(i > w for i in agg_positions), "groupBy should sit below the window"


def test_connected_components_reads_edges_once_and_one_join_per_round(
    spark, tmp_path, monkeypatch
):
    """connected_components: the symmetrised edge list that every round
    reads is materialized from ONE scan of the edge source (a second
    scan re-runs the whole upstream pair generator), and each label
    round after the first is one join plus one groupBy (the first round
    needs no join: every node starts as its own label)."""
    import re

    from peskas_mozambique_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edge_dir = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    ).write.parquet(edge_dir)
    edges = spark.read.parquet(edge_dir)

    checkpointed = []
    frame_cls = type(edges)  # the concrete (classic) DataFrame class
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        extended = plan_of(self, "extended")
        optimized = extended.split("== Optimized Logical Plan ==")[1]
        checkpointed.append(
            (plan_of(self, "simple"), optimized.split("== Physical Plan ==")[0])
        )
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    got = sorted(tuple(r) for r in connected_components(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]

    sym_physical, _ = checkpointed[0]
    assert sym_physical.count("FileScan parquet") == 1
    rounds = [opt for _, opt in checkpointed[1:]]
    assert len(rounds) == 4  # chain diameter 3, plus the round that changes nothing
    for i, opt in enumerate(rounds):
        joins = len(re.findall(r"\bJoin \w+", opt))
        aggregates = len(re.findall(r"\bAggregate \[", opt))
        assert (joins, aggregates) == ((0, 1) if i == 0 else (1, 1)), (i, opt)
