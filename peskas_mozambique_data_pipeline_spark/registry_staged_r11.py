"""Round-11 STAGED registry rows (VERDICT r9 Next #8 / the NOTES r11
recipe): consolidation unions prepared one round ahead with bit-exact
two-scale-factor oracle evidence (``tests/test_registry_staged_r11.py``),
so r11 registration is a mechanical diff.

The union rows pair queries that sit in the CURRENT rotation tail —
the 47 r9-head rows that rotate into the r11 driver window — because
window arithmetic only credits consolidations made within the
rotating-in set (47 − 6 + 3 = 44 rotating rows after the swap,
leaving 6 slots for new r11 rows; 4 are staged below).

* ``governance_audit`` = ``corpus_diff`` + ``token_drift``: both are
  corpus-governance comparisons (snapshot diff counts / per-group token
  KL against the pooled corpus).
* ``neardup_audit`` = ``jaccard_exact`` + ``embedding_near_dup``: both
  emit (id_a, id_b, similarity) near-duplicate pair tables — the
  lexical and the embedding modality of the same surface.
* ``lexstats_audit`` = ``term_stats`` + ``bigram_logloss``: both are
  corpus-level lexical statistics (term_stats is itself a pmi+tfidf
  union, so the merged row carries three stat values).
* ``ivf_audit`` = ``ann_ivf`` + ``ann_ivfpq``: the two IVF-routed ANN
  tiers, merged exactly as r10's ``quant_audit`` merged the
  quantization tiers.

Plus five NEW operator rows:

* ``fetch_audit`` puts the r10 politeness scheduler
  (``web.fetch_schedule``) under the hard oracle — synthesized
  per-host frontier URLs, an analytic delay table, and the per-host
  slot assignment replayed as a windowed ROW_NUMBER in SQL.
* ``html_extract`` puts HTML → text extraction (``operators/html``)
  under the hard oracle by entity-encode/extract round trip: the
  expected text is analytic (never re-parsed from HTML), only the
  whitespace-normalization chain replays cross-engine.
* ``link_graph`` puts href extraction + relative-URL resolution + the
  cross-host link graph under the hard oracle with fully analytic
  expected edges (mailto/fragment hrefs must drop or counts mismatch).
* ``crawl_audit`` puts anchor-text harvesting (incl. ``<base href>``
  resolution) and sitemap parsing under the hard oracle, analytic
  expected rows for both legs.
* ``image_dups`` puts the multimodal perceptual-hash near-dup surface
  (``multimodal.hamming_near_dup_pairs``) under the hard oracle — the
  first hard-signal row for the image-dedup family (the PNG→dHash
  Python half keeps its python-twin pytest evidence).

Each union leg calls the ORIGINAL registered query function verbatim
and the oracle wraps the ORIGINAL oracle SQL in a CTE (the
``registry_audit`` discipline), so the consolidated operators stay
hash-verified and staged-vs-registered drift is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_S = "string"
_L = "long"
_D = "double"


def _null(t: str):
    return F.lit(None).cast(t)


# ---------------------------------------------------------------------------
# governance_audit = corpus_diff + token_drift


def q_governance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_corpus_diff, q_token_drift
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_corpus_diff(spark, sf_dir),
        lambda: q_token_drift(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("diff").alias("stat"),
        F.col("source").cast(_S).alias("key1"),
        F.col("status").cast(_S).alias("key2"),
        F.col("n_docs").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
        _null(_D).alias("v"),
    )
    b = b_raw.select(
        F.lit("drift").alias("stat"),
        F.col("lang").cast(_S).alias("key1"),
        _null(_S).alias("key2"),
        F.col("n_tokens").cast(_L).alias("n1"),
        F.col("vocab").cast(_L).alias("n2"),
        F.col("kl_to_corpus").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_governance_audit() -> str:
    from .registry_curation import SQL_CORPUS_DIFF, SQL_TOKEN_DRIFT

    return f"""
WITH a AS ({SQL_CORPUS_DIFF}),
b AS ({SQL_TOKEN_DRIFT})
SELECT 'diff' AS stat, CAST(source AS VARCHAR) AS key1,
       CAST(status AS VARCHAR) AS key2, CAST(n_docs AS BIGINT) AS n1,
       CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'drift', CAST(lang AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(n_tokens AS BIGINT), CAST(vocab AS BIGINT),
       CAST(kl_to_corpus AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# neardup_audit = jaccard_exact + embedding_near_dup


def q_neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_text import q_embedding_near_dup, q_jaccard_exact
    from .session import overlap_builds

    # independent legs on different tables (documents shingles vs
    # embeddings cosine), each with its own eager checkpoints — build
    # them concurrently (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_jaccard_exact(spark, sf_dir),
        lambda: q_embedding_near_dup(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("jaccard").alias("stat"),
        _null(_L).alias("lbl"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("jaccard").cast(_D).alias("v"),
    )
    b = b_raw.select(
        F.lit("cosine").alias("stat"),
        F.col("label").cast(_L).alias("lbl"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("cosine_sim").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_neardup_audit() -> str:
    from .registry_text import SQL_EMBEDDING_NEAR_DUP, SQL_JACCARD_EXACT

    return f"""
WITH a AS ({SQL_JACCARD_EXACT}),
b AS ({SQL_EMBEDDING_NEAR_DUP})
SELECT 'jaccard' AS stat, CAST(NULL AS BIGINT) AS lbl,
       CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(jaccard AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'cosine', CAST(label AS BIGINT), CAST(id_a AS BIGINT),
       CAST(id_b AS BIGINT), CAST(cosine_sim AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# fetch_audit — per-host politeness scheduling under the hard oracle.
# Frontier URLs synthesize from documents (host = doc_id % 7, path
# unique per doc); the delay table is analytic ((host_index % 3 + 1) ×
# 500 ms), so the oracle replays host derivation, the broadcast delay
# lookup and the per-host slot window exactly — URL ordering is ASCII,
# binary-collated identically on both engines.


def q_fetch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.web import fetch_schedule
    from .session import read_table

    frontier = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://crawl"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    delays = spark.range(7).select(
        F.concat(
            F.lit("crawl"), F.col("id").cast("string"), F.lit(".example.org")
        ).alias("host"),
        ((F.col("id") % 3 + 1) * 500).cast("long").alias("crawl_delay_ms"),
    )
    out = fetch_schedule(frontier, delays)
    return out.select(
        "doc_id", "url", F.col("fetch_offset_ms").cast(_L).alias("fetch_offset_ms")
    )


SQL_FETCH_AUDIT = """
WITH f AS (
  SELECT doc_id,
         'http://crawl' || CAST(doc_id % 7 AS VARCHAR)
         || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         'crawl' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS h
  FROM documents
),
d AS (
  SELECT 'crawl' || CAST(i AS VARCHAR) || '.example.org' AS host,
         CAST((i % 3 + 1) * 500 AS BIGINT) AS delay
  FROM generate_series(0, 6) AS t(i)
)
SELECT f.doc_id, f.url,
       CAST((ROW_NUMBER() OVER (PARTITION BY f.h ORDER BY f.url) - 1)
            * COALESCE(d.delay, 1000) AS BIGINT) AS fetch_offset_ms
FROM f LEFT JOIN d ON f.h = d.host
"""


# ---------------------------------------------------------------------------
# html_extract — HTML → text extraction under the hard oracle, by
# ROUND TRIP: each document's text is entity-ENCODED (& < > -> &amp;
# &lt; &gt;) and wrapped in a fixed page template (head/title, style,
# comment, script, h1, p, div), so correct extraction must cut every
# non-text span, decode entities one level (recovering the original
# text exactly — encode & first, decode &amp; last inverts it for ANY
# input), and normalize whitespace.  The oracle never parses HTML: the
# expected text is the analytic plain-string concatenation with the
# SAME five-rule whitespace chain replayed in DuckDB (the only regex
# surface shared cross-engine, all patterns in the Java/RE2 common
# subset), the ``url_dedup`` analytic-ground-truth discipline.


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    enc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    sid = F.col("doc_id").cast(_S)
    page = F.concat(
        F.lit("<html><head><title> Doc &amp; "),
        sid,
        F.lit(" </title><style>p{color:red}</style></head>"),
        F.lit('<body><!-- chrome --><script>var x = "<p>no</p>";</script><h1>H&#39;'),
        sid,
        F.lit("</h1><p>"),
        enc,
        F.lit("</p><div>t "),
        (F.col("doc_id") % 5).cast(_S),
        F.lit("</div></body></html>"),
    )
    out = html_ops.extract_html_text(
        docs.select("doc_id", page.alias("text")), html_col="text"
    )
    return out.select(
        "doc_id",
        "title",
        F.col("text").alias("text_clean"),
        F.length("text").cast(_L).alias("n_chars_clean"),
    )


SQL_HTML_EXTRACT = r"""
WITH raw AS (
  SELECT doc_id,
         'Doc & ' || CAST(doc_id AS VARCHAR) AS title,
         'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'H''' || CAST(doc_id AS VARCHAR) || chr(10)
           || text || chr(10)
           || 't ' || CAST(doc_id % 5 AS VARCHAR) AS r
  FROM documents
),
clean AS (
  SELECT doc_id, title,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      r, '[ \t\r\f]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
      '^[\s]+', ''), '[\s]+$', '') AS text_clean
  FROM raw
)
SELECT doc_id, title, text_clean,
       CAST(length(text_clean) AS BIGINT) AS n_chars_clean
FROM clean
"""


# ---------------------------------------------------------------------------
# link_graph — href extraction + relative-URL resolution + host graph
# under the hard oracle.  Each document's page carries four resolvable
# links (absolute cross-host, protocol-relative cross-host,
# root-relative self, path-relative self — the last two verify origin
# and base-dir resolution against the analytic base URL) plus, on
# id%4==0 rows, a mailto: and a fragment-only href that MUST be
# dropped (the counts catch a leak).  The edge leg states every
# resolved URL analytically; the graph leg replays host_link_graph's
# cross-host aggregation (self-host edges dropped) as a GROUP BY over
# doc_id % 5.


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast(_S)

    def host(k: int):
        return F.concat(
            F.lit("h"), ((F.col("doc_id") + k) % 5).cast(_S), F.lit(".example.org")
        )

    base = F.concat(
        F.lit("https://"), host(0), F.lit("/d/"), sid, F.lit("/page.html")
    )
    page = F.concat(
        F.lit('<a href="https://'), host(1), F.lit('/abs">a</a>'),
        F.lit('<a href="//'), host(2), F.lit('/pr">b</a>'),
        F.lit("<a href='/rooty'>c</a>"),
        F.lit('<a href="rel'), (F.col("doc_id") % 3).cast(_S), F.lit('.html">d</a>'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit('<a href="mailto:x@y.z">m</a><a href="#f">f</a>'),
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", base.alias("url"), page.alias("html"))
    edges = html_ops.link_edges(pages, html_col="html", url_col="url")
    graph = html_ops.host_link_graph(edges)
    a = edges.select(
        F.lit("edge").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("link_url").alias("k2"),
        _null(_L).alias("n"),
    )
    b = graph.select(
        F.lit("graph").alias("stat"),
        F.col("src").alias("k1"),
        F.col("dst").alias("k2"),
        F.col("n_links").cast(_L).alias("n"),
    )
    return a.unionByName(b)


SQL_LINK_GRAPH = """
WITH d AS (SELECT doc_id, doc_id % 5 AS s FROM documents),
e AS (
  SELECT doc_id, 'https://h' || CAST((s + 1) % 5 AS VARCHAR)
         || '.example.org/abs' AS link FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST((s + 2) % 5 AS VARCHAR)
         || '.example.org/pr' FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST(s AS VARCHAR)
         || '.example.org/rooty' FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST(s AS VARCHAR) || '.example.org/d/'
         || CAST(doc_id AS VARCHAR) || '/rel'
         || CAST(doc_id % 3 AS VARCHAR) || '.html' FROM d
),
g AS (
  SELECT 'h' || CAST(s AS VARCHAR) || '.example.org' AS src,
         'h' || CAST((s + 1) % 5 AS VARCHAR) || '.example.org' AS dst,
         COUNT(*) AS n
  FROM d GROUP BY 1, 2
  UNION ALL
  SELECT 'h' || CAST(s AS VARCHAR) || '.example.org',
         'h' || CAST((s + 2) % 5 AS VARCHAR) || '.example.org', COUNT(*)
  FROM d GROUP BY 1, 2
)
SELECT 'edge' AS stat, CAST(doc_id AS VARCHAR) AS k1, link AS k2,
       CAST(NULL AS BIGINT) AS n
FROM e
UNION ALL
SELECT 'graph', src, dst, CAST(n AS BIGINT) FROM g
"""


# ---------------------------------------------------------------------------
# lexstats_audit = term_stats + bigram_logloss: both are corpus-level
# lexical statistics (PMI/tf-idf tables and the bigram-LM cross
# entropy) — same family, merged so the r11 window gains a slot for
# crawl_audit.  Legs call the registered functions verbatim.


def q_lexstats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 fused pipeline (guide §2.4): the legs re-derived overlapping
    # corpus explosions — term_stats exploded tokens (tfidf) + bigrams
    # + tokens again (pmi's unigram counts) over its checkpointed docs,
    # and bigram_logloss re-scanned the parquet and exploded bigrams a
    # second time.  Now ONE docs checkpoint feeds ONE bigram explode
    # (shared by pmi's counts and the whole logloss leg via the
    # operators' r15 ``bg=``/``uni=``/``tf=`` hooks) and ONE token
    # explode whose (doc, term) tf frame serves tfidf AND derives pmi's
    # unigram counts (sum of tf over docs == the token count — exact
    # integers either way).  Operator scoring logic stays in ONE place
    # (text.py); rows are bit-identical (counts are exact BIGINTs, the
    # ln inputs are the same integers).  The retired legs still run
    # verbatim standalone in the local gate.
    from .operators import text as text_ops
    from .operators.text import tokens
    from .registry_text import _docs

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    t = tokens("text")
    n = F.size(t)
    bg_pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    # bg feeds pmi's bigram counts AND all three logloss consumers
    bg = (
        docs.select(F.col("doc_id"), F.explode(bg_pairs).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
        .localCheckpoint()
    )
    # tf feeds tfidf's scoring + df counts AND pmi's unigram table
    tf = (
        docs.select(F.col("doc_id"), F.explode(t).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    uni = tf.groupBy("term").agg(
        F.sum("tf").alias("n_tok")
    ).select(F.col("term").alias("token"), "n_tok")

    pmi = text_ops.bigram_pmi(docs, min_count=5, bg=bg, uni=uni).select(
        F.lit("pmi").alias("stat"),
        F.col("w1").alias("key1"),
        F.col("w2").alias("key2"),
        F.col("n_ab").alias("cnt"),
        F.col("pmi").alias("score"),
    )
    tfidf = text_ops.tfidf_top_terms(docs, k=3, tf=tf).select(
        F.lit("tfidf").alias("stat"),
        F.col("doc_id").cast(_S).alias("key1"),
        F.col("term").alias("key2"),
        F.col("tf").alias("cnt"),
        F.col("tfidf").alias("score"),
    )
    a = pmi.unionByName(tfidf).select(
        "stat", "key1", "key2",
        F.col("cnt").cast(_L).alias("cnt"),
        F.col("score").cast(_D).alias("score"),
    )
    b = text_ops.bigram_logloss(docs, bg=bg).select(
        F.lit("bigram_ll").alias("stat"),
        F.col("doc_id").cast(_S).alias("key1"),
        _null(_S).alias("key2"),
        F.col("n_bigrams").cast(_L).alias("cnt"),
        F.col("cross_entropy").cast(_D).alias("score"),
    )
    return a.unionByName(b)


def _sql_lexstats_audit() -> str:
    from .registry_text import SQL_BIGRAM_LOGLOSS, SQL_TERM_STATS

    return f"""
WITH a AS ({SQL_TERM_STATS}),
b AS ({SQL_BIGRAM_LOGLOSS})
SELECT stat, key1, key2, CAST(cnt AS BIGINT) AS cnt,
       CAST(score AS DOUBLE) AS score
FROM a
UNION ALL
SELECT 'bigram_ll', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(n_bigrams AS BIGINT), CAST(cross_entropy AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# crawl_audit — anchor-text harvesting (incl. <base href> resolution)
# and sitemap parsing under the hard oracle, both legs with fully
# analytic expected rows (the link_graph discipline).  The anchor leg
# exercises: base-tag-relative resolution, nested-markup anchor text,
# entity decode inside anchors, mailto dropping.  The sitemap leg
# exercises: urlset + sitemapindex blocks in one body, loc entity
# decode + trim, lastmod extraction, try_cast priority.


def q_crawl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast(_S)
    m3 = (F.col("doc_id") % 3).cast(_S)
    m4 = (F.col("doc_id") % 4).cast(_S)
    m5 = (F.col("doc_id") % 5).cast(_S)
    m6 = (F.col("doc_id") % 6).cast(_S)
    m9 = (F.col("doc_id") % 9).cast(_S)
    page = F.concat(
        F.lit('<base href="https://b'), m4, F.lit('.example.org/dir/">'),
        F.lit('<a href="a'), m3, F.lit('.html" title="t">Link &amp; <b>'),
        sid, F.lit("</b></a>"),
        F.lit('<a href="mailto:x@y.z">m</a>'),
        F.lit('<a href="https://abs.example.net/p'), m5, F.lit('">Abs '),
        m5, F.lit("</a>"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://p"), (F.col("doc_id") % 7).cast(_S),
            F.lit(".example.org/x/page.html"),
        ).alias("url"),
        page.alias("html"),
    )
    anchors = html_ops.extract_anchors(pages, html_col="html")
    a = anchors.select(
        F.lit("anchor").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("link_url").alias("k2"),
        F.col("anchor").alias("k3"),
        _null(_D).alias("p"),
    )

    xml = F.concat(
        F.lit("<urlset><url><loc> https://s"), m6, F.lit(".example.org/p/"),
        sid, F.lit("?a=1&amp;b=2 </loc><lastmod>2026-0"),
        ((F.col("doc_id") % 9) + 1).cast(_S),
        F.lit("-01</lastmod><priority>0."), m9,
        F.lit("</priority></url></urlset>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://s"), m6,
                F.lit(".example.org/sm"), sid,
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ),
        ).otherwise(F.lit("")),
    )
    maps = docs.select(
        F.col("doc_id").cast(_S).alias("src"), xml.alias("text")
    )
    sm = html_ops.parse_sitemap(maps, xml_col="text", source_col="src")
    b = sm.select(
        F.concat(F.lit("sitemap-"), F.col("kind")).alias("stat"),
        F.col("src").alias("k1"),
        F.col("loc").alias("k2"),
        F.col("lastmod").alias("k3"),
        F.col("priority").cast(_D).alias("p"),
    )
    return a.unionByName(b)


SQL_CRAWL_AUDIT = """
WITH d AS (
  SELECT doc_id,
         doc_id % 3 AS m3, doc_id % 4 AS m4, doc_id % 5 AS m5,
         doc_id % 6 AS m6, doc_id % 9 AS m9
  FROM documents
),
anchors AS (
  SELECT doc_id,
         'https://b' || CAST(m4 AS VARCHAR) || '.example.org/dir/a'
           || CAST(m3 AS VARCHAR) || '.html' AS k2,
         'Link & ' || CAST(doc_id AS VARCHAR) AS k3
  FROM d
  UNION ALL
  SELECT doc_id,
         'https://abs.example.net/p' || CAST(m5 AS VARCHAR),
         'Abs ' || CAST(m5 AS VARCHAR)
  FROM d
),
sm AS (
  SELECT doc_id, 'sitemap-url' AS stat,
         'https://s' || CAST(m6 AS VARCHAR) || '.example.org/p/'
           || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS k2,
         '2026-0' || CAST(m9 + 1 AS VARCHAR) || '-01' AS k3,
         CAST('0.' || CAST(m9 AS VARCHAR) AS DOUBLE) AS p
  FROM d
  UNION ALL
  SELECT doc_id, 'sitemap-sitemap',
         'https://s' || CAST(m6 AS VARCHAR) || '.example.org/sm'
           || CAST(doc_id AS VARCHAR) || '.xml',
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM d WHERE doc_id % 3 = 0
)
SELECT 'anchor' AS stat, CAST(doc_id AS VARCHAR) AS k1, k2, k3,
       CAST(NULL AS DOUBLE) AS p
FROM anchors
UNION ALL
SELECT stat, CAST(doc_id AS VARCHAR), k2, k3, p FROM sm
"""


# ---------------------------------------------------------------------------
# ivf_audit = ann_ivf + ann_ivfpq: the two IVF-routed ANN tiers (plain
# and PQ-compressed) — same index family, merged exactly as r10's
# quant_audit merged ann_int8 + pooled_ann.  Legs call the registered
# functions verbatim; the oracle wraps the registered SQL in CTEs.


def q_ivf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_ann_ivfpq
    from .registry_text import q_ann_ivf

    a = q_ann_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("stat"),
        F.col("query_id").cast(_L).alias("query_id"),
        F.col("neighbor_id").cast(_L).alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("cosine_sim").cast(_D).alias("v"),
    )
    b = q_ann_ivfpq(spark, sf_dir).select(
        F.lit("ivfpq").alias("stat"),
        F.col("query_id").cast(_L).alias("query_id"),
        F.col("neighbor_id").cast(_L).alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("approx_dist").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_ivf_audit() -> str:
    from .registry_curation import SQL_ANN_IVFPQ
    from .registry_text import SQL_ANN_IVF

    return f"""
WITH a AS ({SQL_ANN_IVF}),
b AS ({SQL_ANN_IVFPQ})
SELECT 'ivf' AS stat, CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS INTEGER) AS rank, CAST(cosine_sim AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'ivfpq', CAST(query_id AS BIGINT), CAST(neighbor_id AS BIGINT),
       CAST(rank AS INTEGER), CAST(approx_dist AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# image_dups — the multimodal image-dedup family's first hard oracle
# row.  ``multimodal.hamming_near_dup_pairs`` (band the 64-bit
# perceptual hash into max_hamming+1 slices, equi-join on any equal
# slice — pigeonhole recall 1.0 — verify with codegen
# ``bit_count(xor)``) runs verbatim on hashes SYNTHESIZED analytically:
# groups of three consecutive doc_ids share a 56-bit base (seven bytes
# (g·p+q) mod 251, primes per byte) and members j=1/j=2 XOR-flip
# one/two g-dependent bit positions, so every group carries known
# near-dups at hamming 1–3 plus exact base collisions at g ≡ g' (mod
# 251).  The oracle replays the band slicing ((h >> start) & mask — all
# hashes keep bit 63 = 0, so arithmetic and unsigned shifts agree), the
# bucket equi-join and the XOR popcount verify in DuckDB — the
# ``cross_corpus`` full-replay discipline.  The Python half of the
# operator (PNG decode → integer luma → nearest resize → dHash,
# ``multimodal.image_dhash``) cannot replay in SQL and keeps its
# python-twin pytest evidence (``tests/test_multimodal.py``); this row
# pins the distributed half: banding arithmetic, join shape, popcount
# threshold and pair dedup.


def _dhash_synth_expr():
    """(asset_id, dhash) synthesis shared by query and docstring: seven
    (g·p+q) mod 251 bytes at bits 0..55, then j-dependent XOR flips."""
    g = F.expr("doc_id DIV 3")
    j = F.col("doc_id") % 3
    primes = ((3, 7), (5, 11), (7, 13), (11, 17), (13, 19), (17, 23), (19, 29))
    base = F.lit(0).cast(_L)
    for k, (p, q) in enumerate(primes):
        base = base + ((g * p + q) % 251) * F.lit(1 << (8 * k)).cast(_L)
    m1 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST((doc_id DIV 3) % 56 AS INT))"
    )
    m2 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(((doc_id DIV 3) * 7 + 3) % 56 AS INT))"
    ).bitwiseXOR(
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(((doc_id DIV 3) * 11 + 5) % 56 AS INT))"
        )
    )
    return (
        F.when(j == 0, base)
        .when(j == 1, base.bitwiseXOR(m1))
        .otherwise(base.bitwiseXOR(m2))
        .cast(_L)
    )


def q_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import hamming_near_dup_pairs
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    hashes = docs.select(
        F.col("doc_id").alias("asset_id"), _dhash_synth_expr().alias("dhash")
    )
    pairs = hamming_near_dup_pairs(hashes, max_hamming=4)
    return pairs.select(
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_IMAGE_DUPS = """
WITH d AS (
  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j FROM documents
),
h0 AS (
  SELECT doc_id, g, j,
         ((g*3+7) % 251)
         + ((g*5+11) % 251) * 256
         + ((g*7+13) % 251) * 65536
         + ((g*11+17) % 251) * 16777216
         + ((g*13+19) % 251) * 4294967296
         + ((g*17+23) % 251) * 1099511627776
         + ((g*19+29) % 251) * 281474976710656 AS hb
  FROM d
),
h AS (
  SELECT doc_id AS id,
         CASE WHEN j = 0 THEN hb
              WHEN j = 1 THEN xor(hb, 1::BIGINT << CAST(g % 56 AS INTEGER))
              ELSE xor(hb, xor(1::BIGINT << CAST((g*7+3) % 56 AS INTEGER),
                               1::BIGINT << CAST((g*11+5) % 56 AS INTEGER)))
         END AS h
  FROM h0
),
b AS (
  SELECT id, h, t.band_idx, (h >> t.s) & t.m AS band_val
  FROM h CROSS JOIN (VALUES (0, 0, 8191), (1, 13, 8191), (2, 26, 8191),
                            (3, 39, 8191), (4, 52, 4095)) AS t(band_idx, s, m)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.h AS ha, c.h AS hb2
  FROM b a JOIN b c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
  WHERE a.id < c.id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(ha, hb2)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb2)) <= 4
"""


# ---------------------------------------------------------------------------

STAGED_QUERIES = {
    "governance_audit": q_governance_audit,
    "neardup_audit": q_neardup_audit,
    "lexstats_audit": q_lexstats_audit,
    "fetch_audit": q_fetch_audit,
    "html_extract": q_html_extract,
    "link_graph": q_link_graph,
    "crawl_audit": q_crawl_audit,
    "ivf_audit": q_ivf_audit,
    "image_dups": q_image_dups,
}


def build_staged_oracle_sql() -> dict[str, str]:
    return {
        "governance_audit": _sql_governance_audit(),
        "neardup_audit": _sql_neardup_audit(),
        "lexstats_audit": _sql_lexstats_audit(),
        "fetch_audit": SQL_FETCH_AUDIT,
        "html_extract": SQL_HTML_EXTRACT,
        "link_graph": SQL_LINK_GRAPH,
        "crawl_audit": SQL_CRAWL_AUDIT,
        "ivf_audit": _sql_ivf_audit(),
        "image_dups": SQL_IMAGE_DUPS,
    }


# names each staged consolidation row replaces at registration time
STAGED_REPLACES = {
    "governance_audit": ("corpus_diff", "token_drift"),
    "neardup_audit": ("jaccard_exact", "embedding_near_dup"),
    "lexstats_audit": ("term_stats", "bigram_logloss"),
    "ivf_audit": ("ann_ivf", "ann_ivfpq"),
}
