"""Iterative graph computation: PageRank by power iteration.

Together with ``dedup.dedup_clusters`` (iterative min-label propagation)
this covers the two iterative-algorithm shapes a DataFrame engine needs:
monotone label convergence and damped numeric fixed-point.

Cross-engine determinism: each iteration's per-node contribution sum is
order-dependent in floats, so contributions are quantized to integers
(floor(r/outdeg · 1e12 + 0.5) summed as BIGINT) and the new rank is
re-quantized to 12 dp — both engines then carry bit-identical ranks into
the next iteration, which makes a fixed-iteration unrolled-CTE DuckDB
twin value-exact.

Scale shape (round 5): the edge table (the big side) is partitioned on
``src`` ONCE and persisted; every iteration's contribution join is then a
shuffle-hash join that streams the cached edges in place and shuffles only
the node-sized rank frame — no per-iteration broadcast build (which was a
synchronous driver job per iteration), no edge-side exchange, ever. The
only per-iteration shuffle of real data is the map-side-combined
contribution aggregate on ``dst``. Nodes with no in-edges hold the
constant quantized rank (1-d)/n after every iteration, so they are left
out of the iterated frame entirely (coalesced in at the contribution join
and restored by one final left join) instead of being unioned in as
node-sized zero rows every round.
"""

from __future__ import annotations

import math
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Lex-order-isomorphic integer packing for digit-string node ids (r15).
#
# The graph entries build node ids as '<tag>' || digits(key) (e.g.
# 'c4217', 's88') and every superstep shuffles, joins and aggregates the
# EDGE-sized frame by that id; LPA additionally breaks vote ties toward
# the lexicographically smallest label every round. 8-byte longs hash and
# compare far cheaper than UTF8 strings (guide §2.3 narrower types / §3
# narrow join keys), but a naive numeric encoding is not order-isomorphic
# to the string order ('c10' < 'c2' lexicographically), so it would change
# tie-breaks. lexpack() IS order-isomorphic, with a proof in the
# docstring, so min-label tie-breaks and (score, node) top-k cuts
# computed on the packed long are EXACTLY the ones the strings produce;
# the string is re-derived by pure arithmetic (lexunpack) for output
# rows only. No dictionary, no extra shuffle, no extra job — a per-row
# map at edge-build time (a round-14-style dictionary A/B'd ~3.6s of
# build/remap overhead at sf0.1, more than the supersteps saved).
# --------------------------------------------------------------------------

# supports keys up to 10^13-1 (13 digits): padded*16+len < 2^57, side bit
# at 2^60 — no overflow in a signed long
LEXPACK_MAX_DIGITS = 13
_POW10 = [10**i for i in range(LEXPACK_MAX_DIGITS + 1)]


def lexpack(side: int, key: Column) -> Column:
    """Pack a non-negative integer ``key`` (< 10^13; any other non-NULL
    key fails the query) and a 0/1 ``side`` flag into a LONG whose
    numeric order equals the lexicographic order of the strings
    tag_side || digits(key)  (tag_0 < tag_1).

    Why it is order-isomorphic (within one side): let a, b be the digit
    strings of x, y (no leading zeros) and A = x·10^(L−|a|),
    B = y·10^(L−|b|) their zero-right-padded L-digit values. Comparing
    equal-length digit strings lexicographically IS comparing their
    numeric values, and right-padding with zeros only changes the lex
    comparison when the padded values TIE — which happens exactly when
    the shorter string is a prefix of the longer and the remainder is
    all zeros ('2' vs '20'); lexicographically the shorter one sorts
    first, so (A, |a|) < (B, |b|) as a pair iff a < b. The pair packs
    into (A·16 + |a|) since |a| ≤ 15. Sides are disjoint high bits, so
    all side-0 nodes sort before all side-1 nodes, matching tag_0 <
    tag_1 string prefixes.
    """
    s = key.cast("long")
    ln = F.length(s.cast("string")).cast("long")
    # exact integer 10^(L-len): element_at is 1-based, so index
    # (L - len + 1) selects _POW10[L - len]
    pad = F.element_at(
        F.array(*[F.lit(p) for p in _POW10]),
        (F.lit(LEXPACK_MAX_DIGITS + 1) - ln).cast("int"),
    )
    packed = (F.lit(side).cast("long") * F.lit(1 << 60)) + s * pad * 16 + ln
    # outside [0, 10^13) the index above leaves _POW10 (a 15-digit key
    # wraps to its LAST element through element_at's negative index) or
    # the '-' sign counts as a digit: the packing would be silently wrong
    # and no longer order-isomorphic, so such a key fails the query
    return F.when(
        (s < 0) | (s >= _POW10[LEXPACK_MAX_DIGITS]),
        F.raise_error(
            F.concat(
                F.lit(f"lexpack: key outside [0, 10^{LEXPACK_MAX_DIGITS}): "),
                s.cast("string"),
            )
        ),
    ).otherwise(packed)


def lexunpack(packed: Column, tag0: str, tag1: str) -> Column:
    """Inverse of :func:`lexpack`: re-derive the original string node id
    tag || digits(key) from the packed long — pure integer arithmetic
    plus one final cast, applied to output-sized frames only."""
    # powers of two via shifts/masks (long `/` is DOUBLE division in
    # Spark — inexact above 2^53, and packed can exceed it); the final
    # power-of-ten division IS the double path but exact: padded =
    # key·pad ≤ 10^14 < 2^53 and the true quotient is an integer, so the
    # correctly-rounded result is that integer
    side = F.shiftright(packed, 60)
    rem = packed.bitwiseAND(F.lit((1 << 60) - 1))
    ln = rem % 16
    padded = F.shiftright(rem, 4)
    pad = F.element_at(
        F.array(*[F.lit(p) for p in _POW10]),
        (F.lit(LEXPACK_MAX_DIGITS + 1) - ln).cast("int"),
    )
    key = (padded / pad).cast("long")
    return F.concat(
        F.when(side == 0, F.lit(tag0)).otherwise(F.lit(tag1)),
        key.cast("string"),
    )


PR_DAMPING = 0.85
PR_ITERS = 5
PR_SCALE = int(1e12)
PR_TOP_K = 20


# A/B-measured at sf0.1 (quiet machine, best of 2, round-5 shuffle-hash
# form): every-2 ≈ never ≈ every-1 within noise once the per-iteration
# broadcast builds are gone — kept at 2 so the plan stays shallow for
# arbitrary iters (without truncation optimizer cost grows superlinearly
# with the unrolled depth).
PR_CHECKPOINT_EVERY = 2


def _iterate(
    edges_w: DataFrame,
    ranks: DataFrame,
    n_nodes: int,
    base: float,
    damping: float,
    q_const: float,
) -> DataFrame:
    """One power-iteration step. The rank frame is node-sized: shuffle IT
    onto the edge partitioning (shuffle-hash join — no sort, no broadcast
    build) and stream the persisted edges in place. The step's only
    full-data exchange is the map-side-combined contribution aggregate on
    dst (shape pinned by tests/test_graph.py::test_iteration_plan_shape)."""
    r_src = ranks.select(F.col("node").alias("src"), "r").hint("shuffle_hash")
    contrib = edges_w.join(r_src, "src", "left").select(
        "dst",
        F.floor(
            (F.coalesce(F.col("r"), F.lit(q_const)) / F.col("outdeg"))
            * PR_SCALE
            + F.lit(0.5)
        ).cast("long").alias("q"),
    )
    return (
        contrib.groupBy("dst")
        .agg(F.sum("q").alias("qs"))
        .select(
            F.col("dst").alias("node"),
            F.floor(
                (base / n_nodes + damping * (F.col("qs") / PR_SCALE))
                * PR_SCALE
                + F.lit(0.5)
            ).cast("long").alias("qr"),
        )
        .select("node", (F.col("qr") / PR_SCALE).alias("r"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    top_k: int = PR_TOP_K,
    checkpoint_every: int = PR_CHECKPOINT_EVERY,
    assume_distinct: bool = False,
    symmetrized: bool = False,
    decode: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (``src``,
    ``dst``). The node set is src ∪ dst, so sink nodes (in-edges only)
    receive rank rows like any other node; nodes with no out-edges simply
    contribute nothing (standard dangling-mass simplification). Symmetrize
    beforehand for undirected graphs.
    Returns the top_k nodes by final rank (rank-desc, node tiebreak).

    ``checkpoint_every`` controls how often the rank frame is
    materialized (0 = never): periodic lineage truncation keeps
    plan/optimizer cost flat in the iteration count at the cost of one
    eager materialization job per truncation.

    Exactness: a node with no in-edges has rank
    floor((1-d)/n·1e12+0.5)/1e12 after every iteration (its aggregate
    input would be qs=0), and Python computes that constant with the same
    IEEE double steps as the engine's expression — so dropping those rows
    from the iterated frame and coalescing the constant back in is
    value-identical to the old union-a-zero-row-per-node form, and the
    unrolled-CTE DuckDB oracle stays bit-exact."""
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # ONE exchange prepares the whole edge side: repartition on src, then
    # both the duplicate-edge dedup (keys ⊇ src) and the out-degree
    # aggregate (key = src) run on that partitioning with NO further
    # exchange — HashPartitioning(src) satisfies clustering on any key
    # set containing src. The two consumers share the repartition shuffle
    # via ReuseExchange inside the one persist-materialization job.
    rep = edges.select("src", "dst").repartition(nparts, "src")
    dedup = rep if assume_distinct else rep.dropDuplicates(["src", "dst"])
    outdeg = dedup.groupBy("src").agg(F.count("*").alias("outdeg"))
    # out-degree is node-sized — broadcast it back onto the edge list, and
    # persist the result (persist — unlike localCheckpoint's LogicalRDD,
    # InMemoryRelation preserves the hash partitioning): the iterations
    # never shuffle or re-scan the big edge side again. Everything
    # downstream (node universe included) derives from this one
    # materialization.
    edges_w = dedup.join(F.broadcast(outdeg), "src").persist()
    # node universe = src ∪ dst, so the implementation is self-consistent
    # for any input (sink nodes get rank rows; a src-only node set would
    # silently diverge from the oracle twin for non-symmetrized inputs).
    # For a symmetrized graph every node appears as a src, and the src
    # side of the cache is already hash-partitioned on src — the distinct
    # is then a partial+final aggregate with NO exchange at all.
    if symmetrized:
        universe = edges_w.select(F.col("src").alias("node"))
    else:
        universe = edges_w.select(F.col("src").alias("node")).unionByName(
            edges_w.select(F.col("dst").alias("node"))
        )
    nodes = universe.distinct().localCheckpoint()
    n_nodes = nodes.count()  # scalar: node-count frame only, never edges
    base = 1.0 - damping
    # rank of a node with no in-edges — same IEEE steps as the engine
    # expression below with qs = 0
    q_const = math.floor((base / n_nodes + damping * 0.0) * PR_SCALE + 0.5) / PR_SCALE
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for it in range(1, iters + 1):
        ranks = _iterate(edges_w, ranks, n_nodes, base, damping, q_const)
        if checkpoint_every and it % checkpoint_every == 0 and it < iters:
            ranks = ranks.localCheckpoint()
    # restore the constant-rank rows for nodes with no in-edges (both
    # sides node-sized — hash join, no sort)
    full = nodes.join(ranks.hint("shuffle_hash"), "node", "left").select(
        "node", F.coalesce(F.col("r"), F.lit(q_const)).alias("r")
    )
    # callers that iterate on packed integer node ids (lexpack) map back
    # to the string id on the top_k rows only. The cut orders by the
    # packed long, which is order-ISOMORPHIC to the string order (lexpack
    # docstring) — so rank ties at the cut break exactly as the
    # all-string pipeline's do
    node = F.col("node") if decode is None else decode(F.col("node"))
    out = (
        full.orderBy(F.desc("r"), F.asc("node"))
        .limit(top_k)
        .select(node.alias("node"), F.col("r").alias("rank_score"))
        # pin the (top_k-row) result so the edge cache can be released
        # before the caller consumes the frame
        .localCheckpoint()
    )
    edges_w.unpersist()
    return out


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient by
    degree-ordered wedge enumeration (Suri & Vassilvitskii, WWW'11 — the
    standard MapReduce triangle algorithm; public).

    Input: an edge list (``src``, ``dst``), either direction, duplicates
    tolerated. Canonicalized to undirected distinct (a<b) pairs first.

    Scale shape: the naive wedge join explodes on hub nodes (a degree-d
    node yields d² wedge candidates). Orienting every edge from its
    lower-(degree, id) endpoint to the higher one caps every out-degree at
    O(sqrt(m)), so wedge enumeration is O(m^1.5) worst-case TOTAL — the
    known optimum for exact counting — and each triangle is enumerated
    exactly once (at its lowest-degree apex). Exchanges: one shuffle for
    the canonical dedup, one node-sized degree aggregate (broadcast back
    onto edges — node table ≪ edge table; at the extreme where even nodes
    don't fit a broadcast, the same plan runs with two shuffle joins), one
    self-join on the wedge apex, one closure equi-join against the
    canonical edge set. No window functions, no driver collect.

    Output: single row (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) where global_clustering = 3·triangles / wedges,
    qround(9) for cross-engine float identity. All counts are exact
    BIGINT arithmetic.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # node-sized; referenced three times (both orientation lookups +
        # the wedge-count aggregate) — persist so the canon union/groupBy
        # runs once
        .persist()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = canon.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    directed = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    d1 = directed.select(F.col("lo"), F.col("hi").alias("u"))
    d2 = directed.select(F.col("lo"), F.col("hi").alias("v"))
    # each unordered wedge once per apex; u < v by node id, so the closure
    # probe against canonical (a < b) edges is a plain two-key equi-join
    wedges = d1.join(d2, "lo").where(F.col("u") < F.col("v"))
    closed = wedges.join(
        canon, (F.col("u") == F.col("a")) & (F.col("v") == F.col("b"))
    )
    tri = closed.agg(F.count("*").cast("long").alias("n_triangles"))
    base = canon.agg(
        F.count("*").cast("long").alias("n_edges"),
    )
    nodes_wedges = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    from ..numeric import qround

    return (
        nodes_wedges.crossJoin(base)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            qround(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
            ).alias("global_clustering"),
        )
    )


BFS_MAX_HOPS = 6


def bfs_levels(edges: DataFrame, max_hops: int = BFS_MAX_HOPS) -> DataFrame:
    """Single-source BFS: hop distance from the minimum node id to every
    node reachable within ``max_hops``, over the undirected edge set.

    The third iterative-graph shape next to :func:`pagerank` (damped
    numeric fixed-point) and ``dedup.dedup_clusters`` (monotone label
    propagation): monotone FRONTIER expansion with early termination —
    the Pregel traversal pattern.

    Scale shape: the undirected edge list (the big side) is deduped and
    persisted ONCE; each hop joins it against the broadcast node-sized
    frontier (no edge-side exchange ever), dedupes the neighbor set (one
    node-sized shuffle — the only real shuffle per hop), and anti-joins
    the broadcast visited set. Frontier and visited are node-sized, never
    edge-sized, and each hop's result is localCheckpoint'd so the plan
    does not deepen with hop count (same lineage-truncation rationale as
    the PageRank iteration). Terminates as soon as a frontier is empty.

    Output: (node, level INT) for each reached node — node keeps the
    edge endpoints' type — level 0 at the source. Deterministic: integer
    levels, min-id source.
    """
    und = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    visited = (
        und.agg(F.min("src").alias("node"))
        .where(F.col("node").isNotNull())
        .select("node", F.lit(0).cast("int").alias("level"))
        .localCheckpoint()
    )
    if not visited.take(1):
        und.unpersist()
        return visited
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            und.join(
                F.broadcast(frontier.select(F.col("node").alias("src"))), "src"
            )
            .select(F.col("dst").alias("node"))
            .dropDuplicates(["node"])
            .join(F.broadcast(visited.select("node")), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("level"))
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt
    und.unpersist()
    return visited


LP_MIN_SUPPORT = 3
LP_REL_SUPPORT_BP2 = 2  # relative min support: 2 per 10,000 orders
LP_TOP_K = 25


def link_prediction_jaccard(
    lineitem: DataFrame, min_support: int = LP_MIN_SUPPORT, k: int = LP_TOP_K
) -> DataFrame:
    """Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    2003, public) on the co-purchase graph: for part pairs at distance 2
    (≥1 shared neighbor) that are NOT already linked, score

        J(a, b) = |N(a) ∩ N(b)| / (|N(a)| + |N(b)| − |N(a) ∩ N(b)|)

    and emit the top-k predicted links. The graph-ML sibling of
    triangle_stats (same wedge enumeration, different consumer).

    Scale shape: edges come from the blocked co-occurrence join (order
    key blocked — recsys convention); wedges are the edge⋈edge self-join
    on the shared endpoint — bounded by Σ deg² like triangle counting;
    degrees broadcast; the existing-edge check is a LEFT ANTI on the
    pair key. Score rounded before ranking (oracle ordering convention).

    Density guard: the edge threshold is RELATIVE support — Apriori's
    minsup contract — max(min_support, ⌈orders · 2/10000⌉) computed with
    pure integer arithmetic (no float ceil drift). An absolute cutoff
    stops pruning as the corpus grows (measured: 10× data → ~250× wedges
    → 17.8× wall), because co-occurrence counts inflate with corpus
    size; a relative one keeps edge density — and Σ deg² — stable.
    """
    from ..numeric import qround

    b = lineitem.select("l_orderkey", "l_partkey").dropDuplicates(
        ["l_orderkey", "l_partkey"]
    )
    x, y = b.alias("x"), b.alias("y")
    # ceil-divide in TRUE integer arithmetic: Spark's `/` on longs is
    # double division (exact only below 2^53), while the DuckDB twin
    # uses integer `//` — `div` is Spark's integral division, matching
    # the twin at any magnitude (ADVICE r8)
    thresh = b.agg(
        (F.countDistinct("l_orderkey") * LP_REL_SUPPORT_BP2 + F.lit(9999)).alias(
            "num"
        )
    ).select(
        F.greatest(
            F.lit(min_support).cast("long"),
            F.expr("num div 10000"),
        ).alias("min_s")
    )
    und = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count("*").alias("s"))
        .crossJoin(F.broadcast(thresh))
        .filter(F.col("s") >= F.col("min_s"))
        .select("a", "b")
    )
    edges = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("mid"))
    e2 = edges.select(F.col("a").alias("mid"), F.col("b").alias("v"))
    wedges = (
        e1.join(e2, "mid")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    cand = wedges.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    da = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    db = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
    scored = (
        cand.join(F.broadcast(da), "u")
        .join(F.broadcast(db), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("common").cast("long").alias("common_neighbors"),
            qround(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("part_a"), F.asc("part_b")
    ).limit(k)


LPA_ITERS = 3
LPA_TOP_K = 20


def label_propagation_communities(
    edges: DataFrame,
    iters: int = LPA_ITERS,
    top_k: int = LPA_TOP_K,
    decode: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, public) for
    community detection: every node starts as its own label; each round
    it adopts the label carrying the greatest incident edge WEIGHT among
    its neighbors plus itself (self-vote weight 1 — the standard
    damping that prevents bipartite 2-coloring oscillation), ties broken
    toward the smallest label. Fixed ``iters`` synchronous rounds — a
    data-dependent convergence test would fork plans between engines —
    then the top_k community census.

    Expects weighted directed edges (src, dst, w) covering both
    directions (symmetrized upstream, like pagerank's builder). Scale:
    each round is one edges⋈labels hash join (labels shuffle; edges
    stream) + one (node, label) weight aggregate + one per-node argmax
    window keyed by the node — the PREGEL superstep shape, state is one
    label per node.
    """
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # the edge table is the big side and every superstep joins it on dst:
    # partition it on dst ONCE and persist (pagerank's convention) — the
    # per-round join then shuffles only the node-sized label frame, and
    # the upstream edge build (a fact-table join + aggregate) runs once
    # instead of once per superstep
    edges_p = edges.repartition(nparts, "dst").persist()
    nodes = edges_p.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    round_frames: list[DataFrame] = []
    for _ in range(iters):
        # ONE fused (node, label) weight aggregate per superstep over
        # neighbor votes ∪ self-votes (integer sums are associative, so
        # fusing the old two-level nbr→votes aggregation is value-exact),
        # with the union explicitly repartitioned on node:
        # hash(node) satisfies the aggregate's (node, label) clustering
        # AND the argmax window's node partitioning, so the superstep's
        # only exchanges are the node-sized label shuffle into the edge
        # join and this one vote shuffle — the old shape paid two vote
        # exchanges plus a window exchange (r14 interleaved A/B: ~4.9 s
        # vs ~6.9 s per 3-superstep run at sf0.1, results identical).
        contrib = edges_p.join(
            labels.select(F.col("node").alias("dst"), F.col("label").alias("nl")),
            "dst",
        ).select(
            F.col("src").alias("node"),
            F.col("nl").alias("label"),
            F.col("w").alias("wt"),
        )
        votes = (
            contrib.unionByName(
                labels.select("node", "label", F.lit(1).cast("long").alias("wt"))
            )
            .repartition(nparts, "node")
            .groupBy("node", "label")
            .agg(F.sum("wt").alias("wt"))
        )
        pick = Window.partitionBy("node").orderBy(F.desc("wt"), F.asc("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            # cache the round's labels LAZILY: the next round reads this
            # frame twice (neighbor join + self-votes), so uncached the
            # lineage doubles per round (r15 A/B: ~11-17s uncached). A
            # lazy persist beats the old eager localCheckpoint-per-round
            # (r15 rotated A/B at sf0.1: ~5.7s vs ~6.7s mean) because it
            # removes one driver barrier + eager job per superstep — the
            # round materializes inside the NEXT round's job instead
            # (VERDICT r14 item 3). Results verified identical.
            .persist()
        )
        round_frames.append(labels)
    census = labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("n_members")
    )
    top = census.orderBy(F.desc("n_members"), F.asc("community")).limit(top_k)
    if decode is not None:
        # callers that iterate on packed integer node ids (lexpack) map
        # the winning labels back to string ids here. The top_k cut above
        # and every superstep's min-label tie-break already ordered by
        # the packed long, which is order-ISOMORPHIC to the string order
        # (lexpack docstring) — so cut, ties and ranks are exactly the
        # all-string pipeline's
        top = top.select(
            decode(F.col("community")).alias("community"), "n_members"
        )
    pick = Window.orderBy(F.desc("n_members"), F.asc("community"))
    out = (
        top.withColumn("rank", F.row_number().over(pick).cast("int"))
        # pin the top_k rows so the edge cache can be released before the
        # caller consumes the frame (pagerank's convention)
        .localCheckpoint()
    )
    edges_p.unpersist()
    for fr in round_frames:
        fr.unpersist()
    return out


KCORE_K = 3
KCORE_ROUNDS = 5


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded k-core peeling (Seidman 1983, public): ``rounds`` rounds of
    "drop every node with degree < k in the surviving subgraph", the
    degeneracy-ordering primitive for community cores and graph
    sparsification. The contract is EXACTLY R rounds — well-defined at
    any scale with no fixpoint-detection divergence between engines (if
    the peel converges earlier, extra rounds are no-ops; both engines
    agree either way).

    Scale shape: the deduped undirected edge list persists ONCE; each
    round is two node-keyed semi-joins (edges ⋉ alive on src and dst —
    co-partitioned shuffle joins, NEVER a broadcast of the node set,
    which is itself data-sized) plus one map-side-combined degree
    aggregate. ``alive`` is node-sized and localCheckpoint'd per round so
    the plan does not deepen with R (the bfs_levels lineage rationale).
    Unlike BFS's frontier (small by construction, broadcast), k-core's
    alive set starts as ALL nodes — broadcasting it would be the classic
    100 TB mistake.

    Output (single row): n_nodes_start, n_alive, n_edges_alive (canonical
    a<b), min_degree_alive (NULL when the core is empty), k, rounds.
    """
    und = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    alive = und.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n_start = alive.count()
    for _ in range(rounds):
        deg = (
            und.join(alive.withColumnRenamed("node", "src"), "src", "semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "semi")
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
    alive_edges = und.join(
        alive.withColumnRenamed("node", "src"), "src", "semi"
    ).join(alive.withColumnRenamed("node", "dst"), "dst", "semi")
    degf = alive_edges.groupBy("src").agg(F.count("*").alias("d"))
    summary = (
        alive.agg(F.count("*").cast("long").alias("n_alive"))
        .crossJoin(
            alive_edges.where(F.col("src") < F.col("dst")).agg(
                F.count("*").cast("long").alias("n_edges_alive")
            )
        )
        .crossJoin(degf.agg(F.min("d").cast("long").alias("min_degree_alive")))
        .select(
            F.lit(n_start).cast("long").alias("n_nodes_start"),
            "n_alive",
            "n_edges_alive",
            "min_degree_alive",
            F.lit(k).cast("int").alias("k"),
            F.lit(rounds).cast("int").alias("rounds"),
        )
        .localCheckpoint()
    )
    und.unpersist()
    return summary
