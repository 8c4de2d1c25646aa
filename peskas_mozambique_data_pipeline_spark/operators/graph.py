"""Iterative graph operators beyond connected components (which lives
with the dedup family in ``operators/dedup.py``): fixed-iteration
PageRank in engine-exact integer arithmetic.

The Pregel shape on DataFrames: ranks and edges are plain frames; one
iteration is a rank⋈edges join + a map-side-combinable SUM — the same
join key both ways, so on a cluster the shuffle partitioning is reused
across iterations.  A ``localCheckpoint`` every ``checkpoint_every``
iterations cuts the lineage, as ``connected_components`` does at its
``probe_every`` cadence.

Engine-exactness: float PageRank sums are partition-order-dependent.
Here ranks live in integer nano-units; each edge's contribution is
``rank_q div out_degree`` (integer floor division — exact), the
damping multiply is ``(85 · Σ) div 100``, and the teleport term is a
precomputed integer.  Any engine that replays the same arithmetic gets
the same BIGINTs, so the DuckDB oracle unrolls the iterations as CTEs
and matches bit-for-bit.  The quantization error per step is below
1e-9·out_degree — irrelevant to ranking, essential to determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1_000_000_000  # nano-unit fixed point


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (pass both
    directions for an undirected graph).  Every node must appear as a
    source at least once (no dangling mass — true for symmetrized
    graphs); ``damping_pct`` is the damping factor in integer percent.
    ``assume_distinct=True`` skips the defensive edge dedup (a full
    shuffle) when the caller guarantees uniqueness.

    Returns (node, rank) with rank in [0, 1] summing to ≈1; ranks are
    exact nano-unit integers divided out at the end.
    """
    # The edge list feeds the degree count, the node census, AND every
    # iteration's join — materialize ONCE with out_degree folded in,
    # so each iteration is one join (the rank side is node-sized —
    # AQE broadcasts it) + one map-side-combinable SUM.  Degree comes
    # from a groupBy + join-back, NOT a COUNT window on src: real
    # graphs have power-law hubs, and AQE splits join skew but not
    # window skew (the jaccard df rule).  Without the checkpoints the
    # lineage re-derived the edges per consumer (measured 14.8 → ~4 s
    # p50 at sf0.1 on the order–supplier graph).
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not assume_distinct:
        e0 = e0.distinct()
    # hash-partition by src (r14, guide §2.4): the degree groupBy("src")
    # and the e0 ⋈ deg join-back both sit on this one exchange instead
    # of re-shuffling the |E|-row edge list each, and ``e`` comes out
    # src-partitioned, which every iteration's rank join then reuses
    # too (measured ~4.6 → ~4.2 s warm at sf0.1; bit-identical ranks).
    # NO separate e0 checkpoint: both join branches read the SAME
    # repartition exchange inside the single e-checkpoint job
    # (ReuseExchange — measured equal-or-faster than materializing e0
    # first, and one full |E| materialization job fewer, r14).
    e0 = e0.repartition(F.col("src"))
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e = e0.join(deg, "src").localCheckpoint()
    # checkpoint the node census itself, THEN count it: the former
    # shape counted the distinct lazily and checkpointed a projection
    # of it, executing the |E|-row distinct twice (the count job and
    # the ranks-checkpoint job).  One distinct execution; the count
    # reads back node-sized checkpoint blocks, and ranks is a cheap
    # per-consumer projection of the materialized census (r14).
    nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n = nodes.count()
    # integer floor arithmetic, never float round(): Python rounds half
    # to even, SQL engines half away from zero — floor division is the
    # same everywhere
    init_q = _SCALE // n
    teleport_q = ((100 - damping_pct) * _SCALE) // (100 * n)
    ranks = nodes.select("node", F.lit(init_q).cast("long").alias("rank_q"))
    # checkpoint_every: materialization beats lineage re-derivation
    # (measured 14.8 → ~4 s p50 at sf0.1), but a checkpoint per
    # iteration over-pays — the rank frame is node-sized, so letting
    # TWO join+agg rounds ride on one lineage before cutting it halves
    # the checkpoint count at an O(|V|) recompute cost the optimizer
    # keeps local (r6 VERDICT Next #4; every-2nd measured below its
    # every-1st baseline and bit-identical on the oracle).
    for i in range(n_iters):
        contribs = ranks.join(e, ranks.node == e.src).select(
            F.col("dst").alias("node"),
            F.expr("rank_q div out_deg").alias("c_q"),
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("c_q").alias("_s"))
            .select(
                "node",
                (
                    F.lit(teleport_q).cast("long")
                    + F.expr(f"({damping_pct} * _s) div 100")
                ).alias("rank_q"),
            )
        )
        last = i == n_iters - 1
        if not last and (i + 1) % max(checkpoint_every, 1) == 0:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "node", (F.col("rank_q") / F.lit(float(_SCALE))).alias("rank")
    )


def triangle_counts(und_edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Exact per-node triangle counts over an UNDIRECTED edge list
    (one row per edge, ``a < b``, pre-deduplicated by the caller).

    The scalable shape: orient every edge from the (degree, id)-
    smaller endpoint to the larger — degree orientation caps every
    node's out-degree at O(sqrt(|E|)) regardless of hubs, so
    per-node work is bounded even on power-law graphs.  Triangles are
    then counted per ORIENTED EDGE by intersecting the two endpoints'
    out-neighbor lists (the edge-iterator / "compact-forward"
    formulation): each triangle {x<y<z in the total order} appears
    exactly once, at edge (x,y) with witness z ∈ N⁺(x)∩N⁺(y).

    Why intersection instead of the wedge-join + closing-semi-join
    MapReduce shape: the wedge relation is Σ C(outdeg, 2) rows —
    ~20M at sf0.1 on the part graph — and the semi-join SHUFFLES all
    of it; the adjacency variant shuffles only |V| neighbor lists and
    |E| edge rows, does the intersection as scan-local JVM array work,
    and feeds the per-node count through map-side partial aggregation
    (measured ~13 s → ~4.5 s at sf0.1, identical rows).  List sizes
    are orientation-bounded at O(sqrt(|E|)) per node — the same bound
    that makes the wedge count tractable makes the arrays small.
    Degrees come from groupBy + join-back, never a COUNT window
    (window skew rule).

    Returns (node, triangles); nodes in no triangle are absent.
    """
    e = und_edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # total order: (degree, id) folded into one sortable BIGINT key
    # (ids are table keys, far below 2^31)
    key = (F.col("d") * F.lit(1 << 31) + F.col("n")).alias("k")
    dk = deg.select("n", key)
    ek = (
        e.join(dk.withColumnsRenamed({"n": "a", "k": "ka"}), "a")
        .join(dk.withColumnsRenamed({"n": "b", "k": "kb"}), "b")
    )
    o = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # r14 (guide §2.4): materialize the ADJACENCY, not the edge list,
    # and re-derive each oriented edge by exploding its source's
    # neighbor list — the edge row then already carries N(src), so the
    # former o→adj join on src (one |E| shuffle + one adjacency
    # shuffle) disappears, and with the orientation select left with a
    # single consumer the separate `o` localCheckpoint goes too.  Each
    # oriented edge appears exactly once under its source's list, so
    # the probe row set is identical; intersection and counts are
    # order-insensitive, so the collect_list order stays irrelevant.
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("_nu")).localCheckpoint()
    probe = (
        adj.select("src", F.explode("_nu").alias("dst"), "_nu")
        .join(
            adj.select(F.col("src").alias("dst"), F.col("_nu").alias("_nv")),
            "dst",
            "left",
        )
        .select(
            "src",
            "dst",
            F.array_intersect(
                F.col("_nu"), F.coalesce(F.col("_nv"), F.array())
            ).alias("_w"),
        )
    )
    # each witness w closes one triangle {src, dst, w}: credit all
    # three nodes, then count — the explode is narrow and the groupBy
    # collapses map-side to |V| rows per partition
    sz = F.size("_w")
    nodes = probe.select(
        F.explode(
            F.concat(
                F.array_repeat(F.col("src"), sz),
                F.array_repeat(F.col("dst"), sz),
                F.col("_w"),
            )
        ).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def kcore(
    und_edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 100,
) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node has
    degree ≥ k — by iterative peeling: drop every node whose CURRENT
    degree is < k, restrict the edge list to survivors, repeat until
    no node falls.  Returns ``(node, degree)`` with the node's degree
    INSIDE the core (≥ k by construction, pytest-asserted).

    Web-corpus use: link-graph connectivity filtering — pages outside
    the 2-core are leaves/chains of the crawl frontier, and core
    membership is a cheap graph-quality gate before expensive
    per-document scoring (the same role the reference's quality flags
    play on survey rows, applied to the link graph).

    Determinism: the k-core is UNIQUE (the union of all subgraphs with
    min-degree ≥ k), so the fixpoint is order/partitioning-independent
    — no tie-breaks exist to get wrong.

    Scale shape: per iteration one map-side-combinable degree count
    plus one semi-join of the edge list against surviving nodes (both
    shuffle on node id; AQE splits hub skew).  Edges only shrink, so
    per-iteration cost falls monotonically.  Each iteration
    ``localCheckpoint``s the edge frame (lineage cut — the CC/pagerank
    discipline) and pays one small count() action for the convergence
    probe; iterations ≤ peel depth, which is tiny on real graphs
    (the degeneracy ordering peels power-law graphs in a handful of
    rounds).  Raises if ``max_iter`` is hit unconverged so a partial
    peel can never masquerade as the core.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        und_edges.select(
            # canonical orientation first: (x,y) and (y,x) are the SAME
            # undirected edge and must not double a node's degree
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        weak = deg.filter(F.col("degree") < k)
        if weak.isEmpty():
            return deg.select("n", "degree")
        keep = deg.filter(F.col("degree") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "semi")
            .select("a", "b")
            .localCheckpoint()
        )
        if e.isEmpty():
            # the k-core is empty: every node peeled away
            return deg.filter(F.lit(False)).select("n", "degree")
    raise RuntimeError(f"kcore did not converge within {max_iter} iterations")
