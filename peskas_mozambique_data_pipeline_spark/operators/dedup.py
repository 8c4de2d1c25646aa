"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every technique avoids the naive O(N²) all-pairs compare.

* exact      — one hash-groupBy (single shuffle on the digest).
* minhash    — signatures are per-row expressions; candidate generation
               is an equi-join on (band, band-hash) buckets, so the
               shuffle is on bucket keys, never a cross join.
* simhash    — per-row signature; near-dup pairs join on rotated
               prefix buckets (here: exact band join) + bit_count verify.
* jaccard    — only computed on LSH candidates, never all pairs.

Portability: hashes are md5-based (not Spark's xxhash64/murmur) so the
same signatures are reproducible in any engine — which is also what the
DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import TOKEN_SPLIT_RE, tokens


def shingles(col: str | Column, k: int = 5) -> Column:
    """k-token shingles of a text column; empty array when the document
    has fewer than k tokens (NB: Spark ``sequence(1, n)`` with n<1 would
    generate a DESCENDING sequence — guard required)."""
    t = tokens(col)
    n = F.size(t)
    seq = F.sequence(F.lit(1), n - (k - 1))
    make = F.transform(seq, lambda i: F.array_join(F.slice(t, i, k), " "))
    return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))


def exact_digest(
    text_col: str | Column = "text",
    normalize: bool = True,
    prefix_tokens: int | None = None,
) -> Column:
    """The per-document digest expression of :func:`exact_dup_groups`,
    factored out so fused audit rows can compute it in a shared scan
    pass without duplicating the normalization chain."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if normalize:
        c = F.lower(F.trim(c))
    if prefix_tokens is not None:
        c = F.array_join(
            F.slice(F.split(F.trim(c), TOKEN_SPLIT_RE), 1, prefix_tokens), " "
        )
    return F.md5(c)


def exact_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    prefix_tokens: int | None = None,
    digest_col: str | None = None,
) -> DataFrame:
    """Exact (or prefix-fingerprint) duplicate grouping via hash-groupBy.

    ``prefix_tokens`` hashes only the first N tokens — catches documents
    that share a long common prefix (truncation dups).  Returns
    (digest, group_size, member doc ids) for groups of size > 1.
    ``digest_col`` (r15): use an already-computed digest column of
    ``df`` (from :func:`exact_digest`) instead of deriving one.
    """
    if digest_col is not None:
        digest = F.col(digest_col)
    else:
        digest = exact_digest(text_col, normalize, prefix_tokens)
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def minhash_signature(col: str | Column, n_hashes: int = 8, shingle_k: int = 5) -> list[Column]:
    """MinHash signature: for permutation i, min over shingles of
    md5(i || '|' || shingle).  Hex-string min is a valid uniform order;
    md5 keeps it engine-portable.

    NB: evaluating these n columns directly over a text column makes
    Catalyst's projection collapse re-inline the shingle construction
    into every hash (n× the string work) — prefer
    ``minhash_signatures`` which materializes shingles once.
    """
    sh = shingles(col, shingle_k)
    return [
        F.array_min(F.transform(sh, lambda s, i=i: F.md5(F.concat(F.lit(f"{i}|"), s)))).alias(
            f"mh_{i}"
        )
        for i in range(n_hashes)
    ]


# universal-hash family for MinHash permutations: mh_i = min over
# shingles of (A_i·(h mod P) + B_i) mod P with P = 2^31-1.  One md5 per
# shingle (the 32-bit base hash) replaces one md5 per (shingle × perm) —
# 8× less hashing at identical recall (affine maps over a prime field
# are a classic universal family).  A_i·(h mod P) ≤ ~2^51, so the
# arithmetic is overflow-free BIGINT on both Spark and DuckDB — the
# oracle reproduces signatures bit-for-bit.
MINHASH_P = 2_147_483_647
MINHASH_A = (1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121)
MINHASH_B = (12582917, 23456789, 34567891, 45678913, 56789123, 67891237, 78912345, 89123457)


def _h32(s: Column) -> Column:
    """32-bit base hash of a shingle: md5 prefix → BIGINT.  Engine-
    portable (DuckDB: ``('0x' || substr(md5(s),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def shingle_hash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    drop_short: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """(id, _h32) — the distinct 32-bit shingle-hash SET per document,
    computed in ONE tokenize + shingle + md5 pass and materialized
    behind a round-robin exchange.

    This is the shared upstream of the whole MinHash family: signatures
    take mins of affine transforms of ``_h32`` (distinct doesn't change
    a min), and Jaccard verification intersects the same sets — so
    candidate generation and verification no longer each re-tokenize,
    re-shingle, and re-md5 the corpus, which profiling showed dominates
    the family's cost.  When both consumers sit in one plan, the
    identical exchange is computed once (ReusedExchange).

    Jaccard over distinct 32-bit shingle hashes equals Jaccard over the
    shingle strings absent collisions (~n²/2³³ per doc — negligible at
    realistic doc lengths, and the DuckDB oracle mirrors the identical
    hash, so cross-engine results stay bit-identical regardless).

    ``drop_short`` drops documents with fewer than ``shingle_k`` tokens
    (empty shingle set): they can't participate in near-dup detection,
    and an all-NULL signature would otherwise alias all short docs into
    one LSH bucket.  The filter is applied AFTER the exchange, where
    ``_h32`` is a materialized attribute — filtering before it would
    make Catalyst push a full copy of the shingle+hash expression into
    the parquet scan as a DataFilter, doubling the expensive work.

    ``materialize`` eagerly ``localCheckpoint``s the frame.  Pipelines
    with MULTIPLE consumers (candidates + verify) need it: neither the
    static planner nor AQE reuses the round-robin exchange across the
    self-join and verify branches (observed: 4 separate scans), so
    without a hard materialization the corpus is re-hashed per branch.

    Work placement around the exchange (r14 measurement): ONLY the
    cheap single-pass tokenization runs below the round-robin exchange
    (in the scan tasks — a one-file corpus scan is a single task);
    the expensive shingle build + per-shingle md5 run ABOVE it, spread
    over every core.  The exchange doubles as the CollapseProject
    barrier: above it the token array is a materialized ATTRIBUTE, so
    the per-element ``slice`` lookups are O(1) — referencing the raw
    ``split()`` EXPRESSION inside the shingle lambda would re-tokenize
    the document once per shingle (O(len²), the same trap documented
    at text.py::winnow_fingerprint).  Measured at sf0.1: 5.2s → 0.85s
    for the materialized frame build.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    out = toks.select(
        F.col(id_col), shingle_h32(F.col("_t"), shingle_k).alias("_h32")
    )
    if materialize:
        out = out.localCheckpoint()
    if drop_short:
        out = out.filter(F.size("_h32") > 0)
    return out


def shingle_h32(t: Column, shingle_k: int = 5) -> Column:
    """The distinct 32-bit shingle-hash SET expression over a token
    ARRAY column — the shared per-row core of :func:`shingle_hash_frame`
    (see its docstring for the attribute-not-expression placement rule:
    ``t`` must be a materialized attribute or CollapseProject re-inlines
    the tokenizer once per shingle)."""
    n = F.size(t)
    make = F.transform(
        F.sequence(F.lit(1), n - (shingle_k - 1)),
        lambda i: F.array_join(F.slice(t, i, shingle_k), " "),
    )
    sh = F.when(n >= shingle_k, make).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(F.transform(sh, _h32))


def token_hashes32(t: Column) -> Column:
    """Distinct-token 32-bit md5-prefix hashes from a token ARRAY
    column — the SimHash input (shared by :func:`simhash_near_pairs`
    and the fused audit rows)."""
    return F.transform(
        F.array_distinct(t),
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint"),
    )


def minhash_signatures_from_hashes(
    hashed: DataFrame, id_col: str = "doc_id", n_hashes: int = 8
) -> DataFrame:
    """MinHash signature table from a :func:`shingle_hash_frame` —
    each permutation is a cheap affine transform over the materialized
    hash array (see MINHASH_A/B above)."""
    if n_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} permutations configured")
    p = F.lit(MINHASH_P)

    def _perm(i: int):
        # exactly-one-arg lambda: a default arg would be bound to the
        # hidden index column PySpark passes to two-arg HOF lambdas
        a, b = F.lit(MINHASH_A[i]), F.lit(MINHASH_B[i])
        return lambda h: (a * (h % p) + b) % p

    mins = [
        F.array_min(F.transform(F.col("_h32"), _perm(i))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return hashed.select(F.col(id_col), *mins)


def band_buckets(
    hashed: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Long-form LSH bucket table (id, band, bucket) from a
    :func:`shingle_hash_frame` — the joinable index representation
    shared by batch candidate generation and the incremental index
    (``streaming/dedup_index.py``)."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures_from_hashes(hashed, id_col, n_hashes)
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band_{b}"))
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.unpivot(
        [id_col], [f"band_{b}" for b in range(bands)], "band", "bucket"
    )


def minhash_candidates_from_hashes(
    hashed: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs from a :func:`shingle_hash_frame` — band the
    signature, hash each band, self-join on (band, band-hash).  Returns
    distinct (id_a < id_b) pairs; shuffle is on bucket keys, never a
    cross join."""
    long = band_buckets(hashed, id_col, n_hashes, bands)
    a = long.alias("a")
    b_ = long.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify_hashed(
    hashed: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, intersecting the
    distinct 32-bit shingle-hash sets of a :func:`shingle_hash_frame`.
    BIGINT intersection is far cheaper than re-building and comparing
    the shingle strings, and when ``hashed`` also feeds candidate
    generation the underlying exchange is reused — the corpus is
    tokenized and hashed exactly once for the whole pipeline."""
    j = pairs.join(
        hashed.select(F.col(id_col).alias("id_a"), F.col("_h32").alias("h_a")), "id_a"
    ).join(hashed.select(F.col(id_col).alias("id_b"), F.col("_h32").alias("h_b")), "id_b")
    inter = F.size(F.array_intersect(F.col("h_a"), F.col("h_b")))
    union = F.size(F.col("h_a")) + F.size(F.col("h_b")) - inter
    return j.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-document MinHash signature table (id, mh_0..mh_{n-1}).

    Convenience wrapper: builds a :func:`shingle_hash_frame` (the
    barrier against CollapseProject re-inlining the tokenize+hash work
    into all n permutation columns — measured 5× slower without) and
    derives the signatures from it.  Pipelines composing candidates +
    verification should build the frame once and use the
    ``*_from_hashes`` forms so the corpus is hashed a single time.
    """
    return minhash_signatures_from_hashes(
        shingle_hash_frame(df, text_col, id_col, shingle_k, drop_short=False),
        id_col,
        n_hashes,
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """LSH candidate pairs: band the signature (rows = n_hashes/bands),
    hash each band, and self-join on (band_index, band_hash).

    The join shuffles on band buckets — documents only meet if they
    collide in some band, so the pair count tracks true near-dup
    density, not N².  Returns distinct (id_a < id_b) candidate pairs.
    """
    return minhash_candidates_from_hashes(
        shingle_hash_frame(df, text_col, id_col, shingle_k), id_col, n_hashes, bands
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-set Jaccard similarity for candidate pairs only —
    per-pair work is bounded by document length, and only LSH
    candidates pay it.  Wrapper over :func:`jaccard_verify_hashed`."""
    return jaccard_verify_hashed(
        shingle_hash_frame(df, text_col, id_col, shingle_k), pairs, id_col
    )


def simhash32(col: str | Column) -> Column:
    """32-bit SimHash over unigram tokens.

    Each distinct token contributes ±1 per bit position depending on its
    md5-derived 32-bit hash; the signature takes the sign of each bit
    sum.  Pure array expressions — per-row, no shuffle, no UDF.
    """
    t = F.array_distinct(tokens(col))
    h = F.transform(t, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint"))
    return simhash32_from_hashes(h)


def simhash32_from_hashes(h: Column) -> Column:
    """SimHash from a precomputed array<bigint> of token hashes.

    ONE fold over the hash array maintains all 32 bit-sums at once
    (``zip_with`` against a literal power-of-two array; bit b of v is
    set iff ``v & 2^b != 0`` — identical to the shift test for the
    non-negative 32-bit hashes ``_h32`` produces), then one zip_with
    turns positive sums into their power-of-two contributions.  Exactly
    the same integer signature as the unrolled 32-fold form (integer
    addition in unchanged element order), but the hash array is
    referenced ONCE — so CollapseProject may inline the md5 transform
    into this expression without re-evaluating it per bit, no barrier
    needed — and the expression tree is ~32× smaller, which is also
    most of this operator's former Catalyst planning cost."""
    pow2 = F.array(*[F.lit(1 << b).cast("bigint") for b in range(32)])

    def _acc_step(acc: Column, v: Column) -> Column:
        return F.zip_with(
            acc,
            pow2,
            lambda c, p: c + F.when(v.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    counts = F.aggregate(h, F.array_repeat(F.lit(0), 32), _acc_step)
    contrib = F.zip_with(
        counts,
        pow2,
        lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(contrib, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation bands the 32-bit signature into 4 byte
    buckets — by pigeonhole, any pair within Hamming distance 3 shares
    at least one clean band, and recall stays high well beyond that.
    The join is equi-keyed on (band, byte), so candidates scale with
    collision density, not N².  ``bit_count`` verifies exactly.
    """
    # cheap tokenize+distinct below the round-robin exchange (single
    # scan task on a one-file corpus); the md5 map and the 32-bit fold
    # run ABOVE it across every core (same placement rationale and
    # measurement as shingle_hash_frame)
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    sigs = toks.select(
        F.col(id_col),
        simhash32_from_hashes(token_hashes32(F.col("_t"))).alias("sig"),
    )
    # hard materialization, not just a repartition barrier: the banded
    # frame below feeds BOTH sides of the self-join, and neither the
    # static planner nor AQE reuses the exchange across self-join
    # branches (same finding as shingle_hash_frame) — without the
    # checkpoint the tokenize+md5+32-fold signature runs twice
    sigs = sigs.localCheckpoint()
    return simhash_pairs_from_sigs(sigs, id_col=id_col, max_hamming=max_hamming)


def simhash_pairs_from_sigs(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 8
) -> DataFrame:
    """Banded candidate generation + exact Hamming verify from a
    MATERIALIZED (id, sig) frame — the post-signature half of
    :func:`simhash_near_pairs`, factored out so fused audit rows can
    feed it from a shared checkpoint.  ``sigs`` must be materialized
    (it feeds both sides of the self-join)."""
    banded = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_out: str = "node",
    comp_out: str = "component_id",
    max_iter: int = 20,
    probe_every: int = 1,
) -> DataFrame:
    """Distributed connected components over a pair graph — the step
    that turns near-dup PAIRS into actionable duplicate CLUSTERS (keep
    one representative per component, drop the rest).

    Closed-neighbourhood min-label propagation: every node's label
    becomes the min label over its neighbours AND itself; the fixpoint
    assigns each component its minimum node id — a UNIQUE fixpoint, so
    the result is deterministic regardless of engine, ordering, or
    partitioning.  A NULL id is a node of its own: it keeps the label
    NULL and never passes a label on (an edge with one NULL end links
    nothing).

    Scale shape: the edge frame is read ONCE — one ``inline`` emits
    both directions plus a self-loop per endpoint, ``distinct``, one
    ``localCheckpoint`` — so an expensive upstream (a MinHash+verify or
    cosine self-join pipeline) runs once, not once per union branch.
    Round 1 is a join-free ``groupBy(a).min(b)`` (every node starts as
    its own label); every later round is ONE join of the label table
    onto the edge list plus ONE groupBy that yields the new label and,
    from the self-loop row, the old one — so "changed" needs no second
    join.  Rounds = graph diameter + 1; near-dup clusters are shallow
    (single-digit).  Raises if ``max_iter`` rounds end before the
    fixpoint so an unconverged labeling can never masquerade as a
    result.

    ``probe_every`` sets the checkpoint + convergence-probe cadence
    (the ``pagerank`` ``checkpoint_every`` knob): between probes,
    rounds chain as lineage and execute inside one job.  Each round
    reads the previous labels once, so that lineage is linear — a
    longer cadence saves checkpoint and probe jobs without recomputing
    any round.  Correctness is cadence-independent — labels only
    DECREASE toward a UNIQUE fixpoint, so rounds past convergence are
    no-ops and a probe delayed by ≤ probe_every−1 rounds detects the
    same fixpoint (parity-pinned in pytest).
    """
    if probe_every < 1:
        raise ValueError("probe_every must be >= 1")
    u, v = F.col(src), F.col(dst)
    sym = (
        edges.select(
            F.inline(
                F.array(
                    F.struct(u.alias("a"), v.alias("b")),
                    F.struct(v.alias("a"), u.alias("b")),
                    F.struct(u.alias("a"), u.alias("b")),
                    F.struct(v.alias("a"), v.alias("b")),
                )
            )
        )
        # both ends set (an edge or a node's self-loop) or both NULL
        # (the NULL node's self-loop): a half-NULL edge links nothing
        .filter(F.col("a").isNull() == F.col("b").isNull())
        .distinct()
        # materialize ONCE: every round re-reads the edge list, and its
        # upstream must not re-execute per round.  No pre-partitioning:
        # under AQE the checkpointed frame reports UnknownPartitioning
        # (see ``session.partitioned_checkpoint``), so a repartition
        # here would be one more shuffle that no round reuses.
        .localCheckpoint()
    )
    labels = None
    for i in range(max_iter):
        if labels is None:
            # round 1: every node starts as its own label — no join
            rows = sym.withColumn("c", F.col("b"))
        else:
            rows = sym.join(
                labels.select(F.col("n").alias("nb"), F.col("comp").alias("c")),
                # null-safe, so the NULL node's self-loop keeps its row
                F.col("b").eqNullSafe(F.col("nb")),
            )
        new_labels = (
            rows.groupBy("a")
            .agg(
                F.min("c").alias("comp"),
                # the self-loop row carries the node's old label; labels
                # only DECREASE, so "changed" is comp < prev
                F.min(F.when(F.col("a") == F.col("b"), F.col("c"))).alias("prev"),
            )
            .select(
                F.col("a").alias("n"),
                "comp",
                (F.col("comp") < F.col("prev")).alias("_changed"),
            )
        )
        if (i + 1) % probe_every == 0 or i == max_iter - 1:
            new_labels = new_labels.localCheckpoint()
            changed = new_labels.filter(F.col("_changed")).limit(1).count()
            labels = new_labels.drop("_changed")
            if changed == 0:
                return labels.select(
                    F.col("n").alias(node_out), F.col("comp").alias(comp_out)
                )
        else:
            labels = new_labels.drop("_changed")
    raise ValueError(f"connected_components did not converge in {max_iter} iterations")


def duplicate_clusters(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 20,
    probe_every: int = 2,
) -> DataFrame:
    """Component rollup: one row per duplicate cluster with its size
    and sorted member list (the canonical representative is the
    component id itself — the minimum member).  ``max_iter`` passes
    through to :func:`connected_components` for deep chains.

    ``probe_every=2`` by default: near-dup cluster graphs are shallow
    (few, cheap rounds), so probing every second round halves the
    checkpoint and probe jobs.  Each round reads the previous labels
    once, so an unprobed round is computed once, inside the next
    probe's job, and never recomputed."""
    comp = connected_components(
        edges, src, dst, max_iter=max_iter, probe_every=probe_every
    )
    return comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("node")), lambda x: x.cast("string")),
            ",",
        ).alias("members"),
    )


def jaccard_prefix_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    df_backend: str = "join",
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    AllPairs/PPJoin blocking (Bayardo et al. 2007, Xiao et al. 2008),
    the lossless complement to the probabilistic MinHash tier: every
    pair with Jaccard ≥ ``threshold`` is returned, none missed.

    Prefix lemma: order each doc's shingle-hash set by a GLOBAL total
    order (ascending document frequency, hash value tie-break — rarest
    first for selectivity); a pair with ``|A∩B| ≥ c`` must collide
    within the first ``|S| − c + 1`` elements of each set, and
    ``J ≥ t ⇒ |A∩B| ≥ ⌈t·|S|⌉``, so probing only each doc's
    ``|S| − ⌈t·|S|⌉ + 1``-element prefix is a complete candidate
    generator (a longer-than-required prefix can only add candidates).

    Scale shape: document frequency is a ``groupBy("h").count()`` +
    join-back (``df_backend="join"``, the default).  Shingle frequency
    is Zipfian — a COUNT window on ``h`` colocates EVERY instance of a
    hash in one task, so at corpus scale the hottest shingles become
    single-task stragglers, and AQE splits join skew but NOT window
    skew.  The join-back costs one extra shuffle of the exploded frame
    (measured +1.1 s p50 at sf0.1 vs the window) but the count side is
    map-side-combinable and the join is AQE-skew-splittable — the shape
    that survives 100×.  ``df_backend="window"`` keeps the single-
    shuffle window variant for small/unskewed corpora; both backends
    produce identical rows (parity-tested).  Set sizes ride along from
    ``size(_h32)`` before the explode instead of a second per-doc
    window; the prefix rank is one window per doc; candidates come
    from an inverted-index equi self-join on PREFIX hashes only — and
    because the prefix prefers globally-rare hashes, hot posting lists
    are exactly the ones the filter excludes.  Verification intersects
    the full hash sets for candidate pairs only.  No LSH tuning knobs,
    no recall loss — the trade is the df pass versus MinHash's
    signature pass.
    """
    ex = hashed.select(
        F.col(id_col).alias("_id"),
        F.size("_h32").alias("_sz"),
        F.explode("_h32").alias("h"),
    )
    if df_backend == "window":
        ex = ex.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    elif df_backend == "join":
        # ex feeds both the count aggregate and the join-back, but is
        # NOT checkpointed: ``hashed`` is already materialized
        # (shingle_hash_frame(materialize=True)), so recomputing ex is
        # one explode of an in-memory frame — far cheaper than
        # materializing the exploded per-shingle rows themselves
        counts = ex.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        ex = ex.join(counts, "h")
    else:
        raise ValueError(f"unknown df_backend {df_backend!r}")
    w_doc = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("h").asc())
    ranked = ex.withColumn("_rn", F.row_number().over(w_doc))
    # prefix feeds both sides of the candidate self-join — same
    # materialization rule as the MinHash family (1.42→1.20 s p50)
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")).cast("int") + 1
    ).select("_id", "_sz", "h").localCheckpoint()
    # PPJoin size filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t, so
    # mismatched-size collisions never reach verification.  floor()
    # (not the tight ceil bound) keeps the cut strictly conservative —
    # a float-rounding wobble in t·|A| at an exact-boundary pair must
    # widen the candidate set, never drop a true pair.
    size_ok = (
        F.col("b._sz").cast("double")
        >= F.floor(F.lit(threshold) * F.col("a._sz")).cast("double")
    ) & (
        F.col("a._sz").cast("double")
        >= F.floor(F.lit(threshold) * F.col("b._sz")).cast("double")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .filter((F.col("a._id") < F.col("b._id")) & size_ok)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = jaccard_verify_hashed(hashed, cand, id_col=id_col)
    return verified.filter(F.col("jaccard") >= threshold)


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    gap: int = 1,
) -> DataFrame:
    """Duplicated-substring spans: maximal token ranges whose every
    length-``n`` window occurs more than once in the corpus — the
    distributed approximation of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a duplicated substring of length ≥ n is exactly a
    run of consecutive duplicated n-grams, so merging adjacent
    duplicated-gram positions (gaps ≤ ``gap``) recovers the spans
    without ever building a suffix array.

    Scale shape: positions ride the explode (no second tokenize);
    duplicated grams are ONE groupBy on the 32-bit gram hash; the
    instance→duplicated-gram filter is a semi-join on the same key (a
    co-partitioned shuffle pair); span merging is the gaps-and-islands
    window per doc — lag + running sum, one shuffle on the doc key.
    Every value is an exact integer: bit-identical across engines by
    construction.

    Returns (id, span_start, span_end, span_tokens) with 1-based
    inclusive token positions.
    """
    from ..operators.text import token_ngrams

    # grams feed BOTH the dup-gram aggregate and the hits join — the
    # self-join materialization rule (NOTES r4): without a hard
    # checkpoint each branch re-tokenizes and re-hashes the corpus
    # (measured 7.1→3.9 s p50 at sf0.1, identical rows)
    #
    # Work placement (r14, same two fixes as shingle_hash_frame): only
    # the single-pass tokenization runs below a round-robin exchange
    # (the one-file corpus scan is a single task); the gram build +
    # per-gram md5 run ABOVE it across every core.  The exchange also
    # makes the token array a materialized ATTRIBUTE, so the per-gram
    # ``slice`` is O(1) — passing the raw text column into
    # ``token_ngrams`` inlined the ``split()`` expression into every
    # gram (O(len²) re-tokenization).  Checkpoint build 4.5→0.6 s at
    # sf0.1.
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(token_ngrams(F.col("_t"), n)).alias("_p0", "_g"),
    ).select(
        id_col,
        (F.col("_p0") + 1).alias("pos"),
        _h32(F.col("_g")).alias("gh"),
    ).localCheckpoint()
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("_c")).filter(
        F.col("_c") >= 2
    )
    hits = grams.join(dup.select("gh"), "gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > gap),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy(id_col, "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        (F.max("pos") + F.lit(n - 1) - F.min("pos") + 1).alias("span_tokens"),
    ).drop("_island")


def containment_prefix_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT set-containment self-join: every ORDERED pair (a, b),
    a ≠ b, with ``|A∩B| / |A| ≥ threshold`` — "at least t of document
    a's shingles also appear in b".  The asymmetric cousin of
    :func:`jaccard_prefix_pairs`: containment is what catches a quote
    or a wholesale inclusion of a short document inside a long one,
    which Jaccard misses because the union is dominated by the long
    side.

    The prefix lemma is ONE-SIDED here (Agrawal et al. 2006 / the
    AllPairs probe-side bound): ``|A∩B| ≥ ⌈t·|A|⌉ = c`` means at most
    ``|A| − c`` of A's elements fall outside B, so A's first
    ``|A| − c + 1`` elements under ANY fixed global order must hit B.
    Only the PROBE side is prefix-truncated; the index side keeps full
    posting lists (B's size gives no bound — a huge B can contain all
    of a tiny A).  The global order is ascending document frequency
    (hash tie-break), so probes prefer globally-rare shingles and the
    hot posting lists are exactly the ones the prefix excludes.  The
    one usable size filter is ``|B| ≥ floor(t·|A|)`` (floor, not ceil:
    conservative under float wobble — may admit an extra candidate,
    can never drop a true pair).

    Scale shape mirrors the Jaccard join: df via map-side-combinable
    ``groupBy("h").count()`` + join-back (AQE-splittable; never a
    COUNT window on the Zipfian hash key); the probe prefix is
    checkpointed because it feeds the candidate join against the full
    index; verification intersects full hash sets for candidates only.
    """
    raw = hashed.select(
        F.col(id_col).alias("_id"),
        F.size("_h32").alias("_sz"),
        F.explode("_h32").alias("h"),
    )
    counts = raw.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    ex = raw.join(counts, "h")
    w_doc = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("h").asc())
    ranked = ex.withColumn("_rn", F.row_number().over(w_doc))
    probe = (
        ranked.filter(
            F.col("_rn")
            <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")).cast("int") + 1
        )
        .select(F.col("_id").alias("_qid"), F.col("_sz").alias("_qsz"), "h")
        .localCheckpoint()
    )
    # the index side needs ONLY (_id, _sz, h): building it from the
    # pre-df/pre-rank frame skips the counts join AND the per-doc
    # window on this branch — two full shuffles of the exploded corpus
    # that only the probe's prefix rank actually requires (measured
    # 5.1 → 4.9 s min at sf0.1 — the probe rank dominates locally, but
    # at corpus scale the removed shuffles are the O(|shingles|) term;
    # identical rows: the df order exists to TRUNCATE the probe,
    # posting lists are order-insensitive)
    index = raw.select(F.col("_id").alias("_tid"), F.col("_sz").alias("_tsz"), "h")
    cand = (
        probe.join(index, "h")
        .filter(
            (F.col("_qid") != F.col("_tid"))
            & (
                F.col("_tsz").cast("double")
                >= F.floor(F.lit(threshold) * F.col("_qsz")).cast("double")
            )
        )
        .select(F.col("_qid").alias("id_a"), F.col("_tid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    j = cand.join(
        hashed.select(F.col(id_col).alias("id_a"), F.col("_h32").alias("h_a")), "id_a"
    ).join(hashed.select(F.col(id_col).alias("id_b"), F.col("_h32").alias("h_b")), "id_b")
    containment = F.round(
        F.size(F.array_intersect(F.col("h_a"), F.col("h_b"))).cast("double")
        / F.size("h_a"),
        6,
    )
    return j.select("id_a", "id_b", containment.alias("containment")).filter(
        F.col("containment") >= threshold
    )


def cross_corpus_near_dups(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate matches of NEW documents against a REFERENCE
    corpus — the batch "is this incoming shard already in the training
    set" pass (the streaming twin lives in ``streaming/dedup_index``;
    this is the one-shot backfill shape).

    Same LSH discipline as the self-dedup family, but the band-bucket
    join is NEW×REF instead of a self-join: candidates = equi-join of
    the two (band, bucket) tables, verification = exact shingle-set
    Jaccard over the two materialized hash frames, so each corpus is
    tokenized and hashed exactly once.  Nothing is all-pairs — the
    shuffle keys are LSH buckets and doc ids, so at 100 TB a small
    incoming shard probes a huge reference at cost proportional to the
    shard, not the reference (the reference side prunes to buckets the
    shard actually hits via the join).

    Returns one row per matched new doc: ``(new_id, ref_id, jaccard,
    n_ref_matches)`` with ``ref_id``/``jaccard`` the best match
    (highest Jaccard, ties to the smallest reference id — a
    ``min_by(…, struct(-jaccard, ref_id))`` pick: only the score is
    negated, so string reference ids order correctly too) and
    ``n_ref_matches`` the number of reference docs at or above
    ``threshold``.
    """
    new_h = shingle_hash_frame(
        new_df, text_col, id_col, shingle_k, materialize=True
    )
    ref_h = shingle_hash_frame(
        ref_df, text_col, id_col, shingle_k, materialize=True
    )
    new_b = band_buckets(new_h, id_col, n_hashes, bands).select(
        F.col(id_col).alias("_nid"), "band", "bucket"
    )
    ref_b = band_buckets(ref_h, id_col, n_hashes, bands).select(
        F.col(id_col).alias("_rid"), "band", "bucket"
    )
    cand = (
        new_b.join(ref_b, ["band", "bucket"])
        .select("_nid", "_rid")
        .distinct()
    )
    j = cand.join(
        new_h.select(F.col(id_col).alias("_nid"), F.col("_h32").alias("h_n")),
        "_nid",
    ).join(
        ref_h.select(F.col(id_col).alias("_rid"), F.col("_h32").alias("h_r")),
        "_rid",
    )
    inter = F.size(F.array_intersect(F.col("h_n"), F.col("h_r")))
    union = F.size("h_n") + F.size("h_r") - inter
    scored = j.select(
        "_nid",
        "_rid",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    best = scored.groupBy("_nid").agg(
        F.min_by(
            F.struct(F.col("_rid").alias("ref_id"), F.col("jaccard").alias("jaccard")),
            F.struct((-F.col("jaccard")).alias("_nj"), F.col("_rid").alias("_r")),
        ).alias("_b"),
        F.count(F.lit(1)).alias("n_ref_matches"),
    )
    return best.select(
        F.col("_nid").alias("new_id"),
        F.col("_b.ref_id").alias("ref_id"),
        F.col("_b.jaccard").alias("jaccard"),
        "n_ref_matches",
    )


def filter_against_reference(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Drop incoming documents near-duplicate of the reference corpus:
    anti-join of ``new_df`` against :func:`cross_corpus_near_dups`
    matches on the id key — survivors keep their full rows, and the
    anti-join shuffles only (id) keys against the matched set."""
    matches = cross_corpus_near_dups(new_df, ref_df, text_col, id_col, **kw)
    return new_df.join(
        matches.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
    )


def lsh_banding_plan(
    n_hashes: int,
    target_threshold: float,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> dict:
    """Choose MinHash banding parameters for a Jaccard threshold —
    driver-side arithmetic over the S-curve ``P(candidate | s) =
    1 − (1 − s^r)^b`` (r rows/band, b bands, b·r = n_hashes).

    Returns the banding whose S-curve midpoint ``(1/b)^(1/r)`` lands
    closest to ``target_threshold``, plus the candidate probability at
    each reference similarity — what a pipeline owner reads to size
    recall (P at the threshold) against verify cost (P at low s =
    false-candidate rate; every candidate pays an exact-Jaccard
    verify).  Pure math, no Spark: call it when configuring
    ``minhash_candidates_from_hashes(n_hashes=, bands=)`` or the
    streaming index; exact-verify downstream means banding choice
    affects COST and RECALL, never correctness.
    """
    if not 0 < target_threshold < 1:
        raise ValueError(f"target_threshold must be in (0,1): {target_threshold}")
    best = None
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        midpoint = (1.0 / b) ** (1.0 / r)
        cand = {
            round(s, 2): 1.0 - (1.0 - s**r) ** b for s in thresholds
        }
        plan = {
            "bands": b,
            "rows_per_band": r,
            "midpoint": midpoint,
            "p_candidate": cand,
            "p_at_target": 1.0 - (1.0 - target_threshold**r) ** b,
        }
        key = abs(midpoint - target_threshold)
        if best is None or key < best[0]:
            best = (key, plan)
    return best[1]
