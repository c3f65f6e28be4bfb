"""Semantic pin for operators/graph.py: PageRank vs a plain-Python power
iteration with the identical quantization, on a small directed graph."""

from __future__ import annotations

import math

from cocktailsdb_spark.operators import graph as G


def _model(edges, iters=G.PR_ITERS, damping=G.PR_DAMPING):
    S = G.PR_SCALE
    nodes = sorted({s for s, _ in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    base = 1.0 - damping
    for _ in range(iters):
        qs = dict.fromkeys(nodes, 0)
        for s, t in edges:
            qs[t] += math.floor((r[s] / outdeg[s]) * S + 0.5)
        r = {
            v: math.floor((base / n + damping * (qs[v] / S)) * S + 0.5) / S
            for v in nodes
        }
    return r


def test_pagerank_matches_python_model(spark):
    # star + chain: a is pointed at by everyone, symmetrized back-edges
    raw = [("b", "a"), ("c", "a"), ("d", "a"), ("d", "c")]
    edges = raw + [(t, s) for s, t in raw]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank_score for r in G.pagerank(df).collect()}
    model = _model(edges)
    assert got == model
    # hub ranks strictly highest; every rank positive; total mass ~1
    assert max(model, key=model.get) == "a"
    assert all(v > 0 for v in got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_iteration_plan_shape(spark):
    """The per-iteration join must stream the persisted src-partitioned
    edge frame in place: shuffle-hash join (no sort-merge, no broadcast
    build of ranks), and no Exchange on the edge side — only the
    node-sized rank frame and the contribution aggregate shuffle."""
    from pyspark.sql import functions as F

    raw = [(f"n{i}", f"n{(i * 7 + 1) % 50}") for i in range(200)]
    df = spark.createDataFrame(raw, "src string, dst string").distinct()
    outdeg = df.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_w = df.join(F.broadcast(outdeg), "src").repartition(8, "src").persist()
    edges_w.count()
    nodes = edges_w.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(0.01).alias("r"))
    step = G._iterate(edges_w, ranks, 100, 0.15, 0.85, 0.0015)
    plan = step._sc._jvm.PythonSQLUtils.explainString(
        step._jdf.queryExecution(), "formatted"
    )
    # outer tree = everything above the cached InMemoryRelation's own
    # (already-materialized) build plan
    outer = plan.split("== Initial Plan ==")[0].split("InMemoryRelation")[0]
    assert "ShuffledHashJoin" in outer
    assert "SortMergeJoin" not in outer and "BroadcastHashJoin" not in outer
    # the step's ONLY live exchange is the contribution aggregate on dst:
    # the edge side streams from the src-partitioned cache, and the rank
    # frame (derived partitioning-preserving from that cache here, or
    # node-sized in the real loop) needs at most its own small shuffle
    assert outer.count("Exchange") == 1, outer
    edges_w.unpersist()


def test_pagerank_top_k_ordering(spark):
    raw = [(f"n{i}", "hub") for i in range(6)]
    edges = raw + [(t, s) for s, t in raw]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = G.pagerank(df, top_k=3).collect()
    assert len(out) == 3
    assert out[0].node == "hub"
    assert out[1].rank_score <= out[0].rank_score
    # equal-rank spokes tie-break lexically
    assert [r.node for r in out[1:]] == ["n0", "n1"]


def test_triangle_stats_k4(spark):
    # K4: every pair connected -> C(4,3)=4 triangles, 12 wedges, cc=1.0
    nodes = ["a", "b", "c", "d"]
    edges = [(x, y) for x in nodes for y in nodes if x < y]
    # feed duplicates and reversed direction: canonicalization must absorb
    df = spark.createDataFrame(
        edges + [(y, x) for x, y in edges], "src string, dst string"
    )
    row = G.triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        4, 6, 12, 4,
    )
    assert row.global_clustering == 1.0


def test_triangle_stats_star_plus_triangle(spark):
    # star hub h-(x1..x4) has no triangles; disjoint triangle p-q-r has 1
    edges = [("h", f"x{i}") for i in range(4)] + [
        ("p", "q"), ("q", "r"), ("p", "r"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    row = G.triangle_stats(df).collect()[0]
    assert row.n_triangles == 1
    # wedges: hub C(4,2)=6 + triangle 3*1 = 9
    assert row.n_wedges == 9
    assert row.n_nodes == 8 and row.n_edges == 7


def test_triangle_stats_releases_its_caches(spark):
    """The canonical edge set and the degree table are cached while the
    count runs and released once the one-row result is pinned, so every
    distinct input does not leave two cache entries behind."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # start from an empty cache
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    row = G.triangle_stats(df).collect()[0]
    assert (row.n_triangles, row.n_wedges) == (1, 5)
    assert cache.isEmpty()


def test_bfs_levels_path_and_disconnected(spark):
    # path a-b-c-d plus a disconnected pair x-y: BFS from min node "a"
    # reaches the path only; x/y are absent from the result
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.level for r in G.bfs_levels(df).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_levels_hop_cap_and_duplicates(spark):
    # chain 0-1-2-3-4 fed with duplicate and reversed edges; cap at 2 hops
    chain = [(i, i + 1) for i in range(4)]
    df = spark.createDataFrame(
        chain + [(b, a) for a, b in chain] + chain, "src long, dst long"
    )
    out = {r.node: r.level for r in G.bfs_levels(df, max_hops=2).collect()}
    assert out == {0: 0, 1: 1, 2: 2}


def test_bfs_levels_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert G.bfs_levels(df).count() == 0


def test_link_prediction_jaccard_wedge_scores(spark):
    from cocktailsdb_spark.operators.graph import link_prediction_jaccard

    # Build co-purchase edges via baskets (support >= 2 here):
    # edges: 1-2, 2-3  ->  candidate pair (1,3) via wedge at 2.
    # N(1)={2}, N(3)={2}, common=1 -> J = 1/(1+1-1) = 1.
    rows = []
    eid = 0
    for _ in range(2):  # each co-purchase twice to clear min_support=2
        for ok_base, parts in ((10, [1, 2]), (20, [2, 3])):
            eid += 1
            for p in parts:
                rows.append((ok_base * 100 + eid, p))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = link_prediction_jaccard(li, min_support=2, k=10).collect()
    got = {(r.part_a, r.part_b): r for r in out}
    assert (1, 3) in got
    r = got[(1, 3)]
    assert r.common_neighbors == 1 and r.jaccard == 1.0
    # existing edges are never predicted
    assert (1, 2) not in got and (2, 3) not in got


def test_lpa_two_cliques_two_communities(spark):
    """Two disjoint triangles: after 3 rounds every node carries its
    clique's minimum label; census = two communities of 3."""
    from cocktailsdb_spark.operators import graph

    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    und = []
    for u, v in tri1 + tri2:
        und += [(u, v, 1), (v, u, 1)]
    edges = spark.createDataFrame(und, "src string, dst string, w long")
    out = graph.label_propagation_communities(edges).collect()
    sizes = sorted((r.community, r.n_members) for r in out)
    assert sizes == [("a", 3), ("x", 3)]


def test_lpa_fused_vote_sums_and_self_vote_tiebreak(spark):
    """r14 fused-superstep pins: (a) neighbor weights to the SAME label
    accumulate across union branches exactly as the old two-level
    aggregate (u's two w=1 edges to nodes labeled 'a' must beat u's
    self-vote of 1), and (b) an all-tied vote still breaks to the
    smallest label."""
    from cocktailsdb_spark.operators import graph

    # Equal-weight triangle a-b-u: round 1 every node sees three tied
    # votes (two neighbor labels + self) and must break to the minimum
    # label 'a'; round 2 then delivers label 'a' to each node over TWO
    # union branches (both neighbor edges) whose weights must SUM to 2
    # and beat the self-vote — exactly the accumulation the fused
    # aggregate performs in one pass.
    und = []
    for u, v in (("a", "b"), ("a", "u"), ("b", "u")):
        und += [(u, v, 1), (v, u, 1)]
    edges = spark.createDataFrame(und, "src string, dst string, w long")
    out = {r.community: r.n_members for r in
           graph.label_propagation_communities(edges).collect()}
    assert out == {"a": 3}


def test_lexpack_is_lex_order_isomorphic_and_invertible(spark):
    """r15 pin: lexpack's numeric order must equal the lexicographic
    order of the 'c…'/'s…' strings — including the adversarial
    digit-string cases where numeric key order DIFFERS from lex order
    ('c10' < 'c2', '2' prefix of '20'/'205') — and lexunpack must invert
    it exactly. The graph iteratives' per-superstep min-label tie-breaks
    and top-k cuts ride on this property."""
    from pyspark.sql import functions as F

    keys = [0, 1, 2, 9, 10, 11, 19, 20, 21, 99, 100, 200, 205, 2050,
            123456789, 10**13 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "key long")
    a = df.select(
        F.concat(F.lit("c"), F.col("key").cast("string")).alias("sid"),
        G.lexpack(0, F.col("key")).alias("packed"),
    )
    b = df.select(
        F.concat(F.lit("s"), F.col("key").cast("string")).alias("sid"),
        G.lexpack(1, F.col("key")).alias("packed"),
    )
    rows = a.unionByName(b).withColumn(
        "rt", G.lexunpack(F.col("packed"), "c", "s")
    ).collect()
    assert all(r.rt == r.sid for r in rows)
    by_str = [r.sid for r in sorted(rows, key=lambda r: r.sid)]
    by_pack = [r.sid for r in sorted(rows, key=lambda r: r.packed)]
    assert by_str == by_pack
    # the adversarial pair really is adversarial: numeric order differs
    assert by_str.index("c10") < by_str.index("c2")


def test_lpa_packed_keys_match_string_pipeline_on_lex_ties(spark):
    """r15 pin: running LPA on lexpack'd longs + decode must produce the
    SAME communities as the all-string pipeline on a graph engineered so
    a min-label tie-break falls between keys whose numeric order and
    lex order disagree (2 vs 10: lex min is '10'). Guards the
    order-isomorphism argument end-to-end."""
    from pyspark.sql import functions as F

    # triangle between c2, c10, s3 with equal weights: round-1 votes tie
    # everywhere, so every node takes the lex-smallest label — 'c10'
    # (numeric order would wrongly pick c2)
    tris = [(0, 2, 1, 10), (0, 2, 1, 3), (0, 10, 1, 3)]
    rows = []
    for sa, ka, sb, kb in tris:
        rows += [(sa, ka, sb, kb, 1), (sb, kb, sa, ka, 1)]
    raw = spark.createDataFrame(
        rows, "sa int, ka long, sb int, kb long, w long"
    )
    tag = lambda s, k: F.concat(
        F.when(F.col(s) == 0, F.lit("c")).otherwise(F.lit("s")),
        F.col(k).cast("string"),
    )
    str_edges = raw.select(
        tag("sa", "ka").alias("src"), tag("sb", "kb").alias("dst"), "w"
    )
    side = lambda s, k: F.when(
        F.col(s) == 0, G.lexpack(0, F.col(k))
    ).otherwise(G.lexpack(1, F.col(k)))
    packed_edges = raw.select(
        side("sa", "ka").alias("src"), side("sb", "kb").alias("dst"), "w"
    )
    want = sorted(
        map(tuple, G.label_propagation_communities(str_edges).collect())
    )
    got = sorted(
        map(
            tuple,
            G.label_propagation_communities(
                packed_edges, decode=lambda c: G.lexunpack(c, "c", "s")
            ).collect(),
        )
    )
    assert got == want
    assert want[0][0] == "c10"  # the lex-min label won, not the numeric min


def test_lexpack_rejects_keys_outside_its_range(spark):
    """Keys >= 10^13 used to wrap through element_at's negative index (a
    15-digit key silently took the 13-digit pad) and negative keys
    counted their sign as a digit: both must fail the query instead."""
    import pytest
    from pyspark.sql import functions as F

    for key in (10**13, 10**14, 10**15, -1):
        df = spark.createDataFrame([(key,)], "key long")
        with pytest.raises(Exception, match="lexpack: key outside"):
            df.select(G.lexpack(0, F.col("key"))).collect()
    # the largest supported key and a NULL key still pack
    df = spark.createDataFrame([(10**13 - 1,), (None,)], "key long")
    got = [r[0] for r in df.select(G.lexpack(1, F.col("key"))).collect()]
    assert got[0] is not None and got[1] is None
