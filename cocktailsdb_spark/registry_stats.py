"""Registry entries: distribution tests (KS / Kruskal–Wallis / ANOVA /
Kendall τ-b), closed-form ridge regression, distinct l-diversity, and two
SQL-surface features new in Spark 4 — recursive CTEs (``WITH RECURSIVE``)
and correlated ``LATERAL`` subqueries — where the SAME ANSI text runs on
both engines (the cte_sql_api convention).

Same contract as registry_ops.py: every entry pairs the Spark plan with an
exact DuckDB twin; float reductions use exact decimal lanes
(numeric.dsum / relational._dsum38) so values match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .numeric import DEC, sql_dsum as _d, sql_qround as _q
from .operators import filters, relational
from .operators.relational import _sql_dsum38 as _d38
from .registry import register
from .tables import load, register_views

# ===========================================================================
# distribution tests
# ===========================================================================


def _q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test, 1996 vs 1997 order values
    (operators/relational.py:ks_test_two_sample) — exact-ECDF drift next
    to wasserstein_price_drift/psi_price_drift, bucketed prefix-sum plan."""
    return relational.ks_test_two_sample(load(spark, sf_dir, "orders"))


def _ks_sql() -> str:
    from .operators.relational import W1_YEAR_A, W1_YEAR_B

    lam = "sqrt(na * nb / (na + nb)) * dmax"
    return f"""
        WITH base AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 year(o_orderdate) = {W1_YEAR_A} AS isa
          FROM orders
          WHERE year(o_orderdate) IN ({W1_YEAR_A}, {W1_YEAR_B})),
        vals AS (
          SELECT v, count(CASE WHEN isa THEN 1 END) AS ca,
                 count(CASE WHEN NOT isa THEN 1 END) AS cb
          FROM base GROUP BY v),
        cum AS (
          SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
                 sum(cb) OVER (ORDER BY v) AS cum_b
          FROM vals),
        tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
                       CAST(sum(cb) AS DOUBLE) AS nb FROM vals),
        d AS (
          SELECT max(abs(CAST(cum_a AS DOUBLE) / na
                         - CAST(cum_b AS DOUBLE) / nb)) AS dmax,
                 max(na) AS na, max(nb) AS nb
          FROM cum CROSS JOIN tot)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               {_q('dmax', 9)} AS d_stat,
               {_q(lam, 6)} AS ks_lambda,
               {_q(f'least(1.0, 2.0 * exp(-2.0 * ({lam}) * ({lam})))', 6)}
                 AS p_value
        FROM d"""


register("ks_test_two_sample", _q_ks, _ks_sql())


def _q_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across all five order priorities
    (operators/relational.py:kruskal_wallis_priority): the k-group
    rank-free generalisation of mann_whitney_u, tie-corrected."""
    return relational.kruskal_wallis_priority(load(spark, sf_dir, "orders"))


def _kruskal_sql() -> str:
    h = "12.0 / (n_total * (n_total + 1)) * sum_r2_over_n - 3.0 * (n_total + 1)"
    corr = "1.0 - tie_sum / (n_total * n_total * n_total - n_total)"
    return f"""
        WITH vals AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderpriority AS grp,
                 CAST(count(*) AS BIGINT) AS cg
          FROM orders GROUP BY 1, 2),
        tots AS (SELECT v, sum(cg) AS t FROM vals GROUP BY v),
        ranked AS (
          SELECT v, t,
                 coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS cum_lt
          FROM tots),
        per_group AS (
          SELECT grp,
                 CAST(sum(CAST(cg * (2 * cum_lt + t + 1) AS DECIMAL(38,0)))
                      AS DOUBLE) AS r2g,
                 CAST(sum(CAST(cg AS DECIMAL(38,0))) AS DOUBLE) AS ng
          FROM vals JOIN ranked USING (v) GROUP BY grp),
        ties AS (
          SELECT CAST(sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
                   AS tie_sum
          FROM tots),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 {_d38('ng')} AS n_total,
                 {_d38('(r2g / 2.0) * (r2g / 2.0) / ng')} AS sum_r2_over_n
          FROM per_group)
        SELECT CAST(n_total AS BIGINT) AS n_total, k_groups,
               {_q(h, 6)} AS h_stat,
               {_q(corr, 9)} AS tie_correction,
               {_q(f'({h}) / ({corr})', 6)} AS h_corrected
        FROM agg CROSS JOIN ties"""


register("kruskal_wallis_priority", _q_kruskal, _kruskal_sql())


def _q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities
    (operators/relational.py:anova_oneway_priority) — the parametric twin
    of kruskal_wallis_priority; one map-side-combined moment aggregate."""
    return relational.anova_oneway_priority(load(spark, sf_dir, "orders"))


def _anova_sql() -> str:
    return f"""
        WITH g AS (
          SELECT o_orderpriority,
                 CAST(count(*) AS DOUBLE) AS ng,
                 {_d38('CAST(o_totalprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(o_totalprice AS DOUBLE)'
                       ' * CAST(o_totalprice AS DOUBLE)')} AS sxx
          FROM orders GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 {_d38('ng')} AS n_total,
                 {_d38('sx')} AS sx_all,
                 {_d38('sxx')} AS sxx_all,
                 {_d38('sx * sx / ng')} AS sb_raw
          FROM g)
        SELECT CAST(n_total AS BIGINT) AS n_total, k_groups,
               {_q('((sb_raw - sx_all * sx_all / n_total)'
                   ' / (CAST(k_groups AS DOUBLE) - 1))'
                   ' / (((sxx_all - sx_all * sx_all / n_total)'
                   '     - (sb_raw - sx_all * sx_all / n_total))'
                   '    / (n_total - CAST(k_groups AS DOUBLE)))', 4)}
                 AS f_stat,
               {_q('(sb_raw - sx_all * sx_all / n_total)'
                   ' / (sxx_all - sx_all * sx_all / n_total)', 9)}
                 AS eta_squared
        FROM agg"""


register("anova_oneway_priority", _q_anova, _anova_sql())


def _q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between daily revenue and daily order count
    (operators/relational.py:kendall_tau_daily); calendar-bounded pair
    frame, the theil_sen_trend scale argument."""
    return relational.kendall_tau_daily(load(spark, sf_dir, "orders"))


def _kendall_sql() -> str:
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(count(*) AS DOUBLE) AS x,
                 {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        pairs AS (
          SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                        OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS cc,
                 CASE WHEN (a.x < b.x AND a.y > b.y)
                        OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS dd,
                 CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
                 CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
          FROM daily a JOIN daily b ON a.day < b.day),
        g AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_pairs,
                 CAST(sum(cc) AS DOUBLE) AS conc,
                 CAST(sum(dd) AS DOUBLE) AS disc,
                 CAST(sum(tx) AS DOUBLE) AS tiex,
                 CAST(sum(ty) AS DOUBLE) AS tiey
          FROM pairs),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        SELECT n_days, CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(conc AS BIGINT) AS concordant,
               CAST(disc AS BIGINT) AS discordant,
               {_q('(conc - disc) / (sqrt(n_pairs - tiex)'
                   ' * sqrt(n_pairs - tiey))', 6)} AS tau_b
        FROM g CROSS JOIN nd"""


register("kendall_tau_daily", _q_kendall, _kendall_sql())


# ===========================================================================
# closed-form ridge regression
# ===========================================================================


def _q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of l_extendedprice on (l_quantity, l_discount)
    (operators/relational.py:ridge_regression_price): one Gram-moment
    aggregate + Cramer 2×2 solve, λ per-sample so shrinkage is
    SF-invariant."""
    return relational.ridge_regression_price(load(spark, sf_dir, "lineitem"))


def _ridge_sql() -> str:
    from .operators.relational import RIDGE_LAMBDA_PER_ROW

    pre = f"""
        WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(l_quantity AS DOUBLE)')} AS s1,
                 {_d38('CAST(l_discount AS DOUBLE)')} AS s2,
                 {_d38('CAST(l_extendedprice AS DOUBLE)')} AS sy,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_quantity AS DOUBLE)')} AS s11,
                 {_d38('CAST(l_discount AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS s22,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS s12,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_extendedprice AS DOUBLE)')} AS s1y,
                 {_d38('CAST(l_discount AS DOUBLE)'
                       ' * CAST(l_extendedprice AS DOUBLE)')} AS s2y,
                 {_d38('CAST(l_extendedprice AS DOUBLE)'
                       ' * CAST(l_extendedprice AS DOUBLE)')} AS syy
          FROM lineitem),
        c AS (
          SELECT n,
                 s11 - s1 * s1 / n AS c11,
                 s22 - s2 * s2 / n AS c22,
                 s12 - s1 * s2 / n AS c12,
                 s1y - s1 * sy / n AS c1y,
                 s2y - s2 * sy / n AS c2y,
                 syy - sy * sy / n AS cyy,
                 s1, s2, sy,
                 {RIDGE_LAMBDA_PER_ROW} * n AS lam
          FROM m),
        b AS (
          SELECT n, s1, s2, sy, c11, c22, c12, c1y, c2y, cyy,
                 ((c22 + lam) * c1y - c12 * c2y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b1,
                 ((c11 + lam) * c2y - c12 * c1y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b2
          FROM c)"""
    sse = (
        "cyy - 2.0 * (b1 * c1y + b2 * c2y) + b1 * b1 * c11"
        " + 2.0 * b1 * b2 * c12 + b2 * b2 * c22"
    )
    return f"""{pre}
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q('b1', 6)} AS beta_qty,
               {_q('b2', 4)} AS beta_discount,
               {_q('(sy - b1 * s1 - b2 * s2) / n', 4)} AS intercept,
               {_q(f'1.0 - ({sse}) / cyy', 9)} AS r_squared
        FROM b"""


register("ridge_regression_price", _q_ridge, _ridge_sql())


# ===========================================================================
# governance: distinct l-diversity
# ===========================================================================


def _q_ldiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity of customer under (nation, segment) QI with
    account-balance bands as the sensitive attribute
    (operators/filters.py:l_diversity_report) — k-anonymity's companion
    gate."""
    return filters.l_diversity_report(load(spark, sf_dir, "customer"))


def _ldiv_sql() -> str:
    from .operators.filters import ACCTBAL_BANDS, L_DIVERSITY_L

    b0, b1, b2, b3 = ACCTBAL_BANDS
    lr = L_DIVERSITY_L
    return f"""
        WITH cells AS (
          SELECT c_nationkey, c_mktsegment,
                 CASE WHEN CAST(c_acctbal AS DOUBLE) < {b0} THEN 'negative'
                      WHEN CAST(c_acctbal AS DOUBLE) < {b1} THEN 'low'
                      WHEN CAST(c_acctbal AS DOUBLE) < {b2} THEN 'mid'
                      WHEN CAST(c_acctbal AS DOUBLE) < {b3} THEN 'high'
                      ELSE 'top' END AS band,
                 count(*) AS n
          FROM customer GROUP BY 1, 2, 3),
        classes AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(count(*) AS BIGINT) AS l_distinct, sum(n) AS sz
          FROM cells GROUP BY 1, 2)
        SELECT CAST(min(l_distinct) AS BIGINT) AS min_l,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN l_distinct < {lr} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_classes_below_l,
               CAST(sum(CASE WHEN l_distinct < {lr} THEN sz ELSE 0 END)
                    AS BIGINT) AS n_rows_below_l,
               {_q(f'CAST(sum(CASE WHEN l_distinct < {lr} THEN sz ELSE 0 END)'
                   ' AS DOUBLE) / sum(sz)', 6)} AS pct_rows_below_l
        FROM classes"""


register("l_diversity_report", _q_ldiv, _ldiv_sql())


# ===========================================================================
# SQL-surface parity: WITH RECURSIVE and correlated LATERAL (Spark 4)
# ===========================================================================

REC_MAX_STEPS = 8
REC_WEEK_END = "2024-01-08"  # first week of the events fixture

RECURSIVE_PATHS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, ts, event_type FROM events
  WHERE ts < TIMESTAMP '{REC_WEEK_END}'),
succ AS (
  SELECT event_id,
         lead(event_id) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_id
  FROM base),
firsts AS (
  SELECT event_id FROM (
    SELECT event_id, row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rk
    FROM base) t
  WHERE rk = 1),
walk(event_id, step) AS (
  SELECT event_id, 1 FROM firsts
  UNION ALL
  SELECT s.next_id, w.step + 1
  FROM walk w JOIN succ s ON s.event_id = w.event_id
  WHERE s.next_id IS NOT NULL AND w.step < {REC_MAX_STEPS}
)
SELECT CAST(w.step AS INT) AS step, b.event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM walk w JOIN base b ON b.event_id = w.event_id
GROUP BY w.step, b.event_type
"""


def _q_recursive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``WITH RECURSIVE`` (UNION ALL recursion): unroll each
    user's first-week event chain by walking the unique-successor edge
    (lead over the user timeline — fanout exactly 1 and strictly
    time-increasing, so the recursion is ACYCLIC with ≤ REC_MAX_STEPS
    iterations and ≤ users×steps total rows; no path explosion is
    possible by construction). Output: events per (step ordinal,
    event_type) — what share of step-3 actions are purchases?

    The same ANSI text runs on DuckDB (its recursive CTE), making this a
    true engine-parity entry for the SQL feature itself; the window-only
    formulation (row_number ≤ k) is the one-pass scale path and
    graph_bfs_levels holds the iterative-DataFrame shape. Recursion depth
    is bounded by the constant, never the data.
    """
    register_views(spark, sf_dir)
    return spark.sql(RECURSIVE_PATHS_SQL)


register("recursive_cte_paths", _q_recursive_paths, RECURSIVE_PATHS_SQL)

LATERAL_TOPK_SQL = """
SELECT n.n_name AS nation, t.c_name AS customer,
       CAST(t.c_acctbal AS DOUBLE) AS acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 3) t
"""


def _q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated ``LATERAL`` subquery with per-row ORDER BY + LIMIT —
    top-3 customers by account balance per nation, the SQL-standard
    spelling of topk_per_group_limit. Spark decorrelates the lateral
    into a ranked window under the hood (DecorrelateInnerQuery), so the
    physical plan is the same one shuffle as the explicit window form —
    the entry pins that the SURFACE works and stays engine-identical
    (ties broken by the unique c_name). Same ANSI text runs on DuckDB.
    """
    register_views(spark, sf_dir)
    return spark.sql(LATERAL_TOPK_SQL)


register("lateral_topk_per_nation", _q_lateral_topk, LATERAL_TOPK_SQL)


# ===========================================================================
# array higher-order functions (JVM-side lambda expressions)
# ===========================================================================

HOF_BIG_CUTOFF = 0.2


def _q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column — the
    JVM-side lambda surface (aggregate / filter / array_max) that keeps
    vector math OUT of Python: per-vector L1 norm via an exact
    DECIMAL-accumulator fold, big-component count via filter+size, max
    component — then per-label aggregates. The exact-arithmetic sibling
    of embedding_stats; no UDF, no Arrow transfer, whole-stage codegen
    end to end.

    The fold accumulates in DECIMAL(24,8) with the accumulator re-cast
    each step (Spark would otherwise widen the decimal type per
    addition), so the 64-term per-row sum is order-fixed and
    engine-exact; the DuckDB twin unnests and decimal-sums the same
    values.
    """
    emb = load(spark, sf_dir, "embeddings")
    l1 = F.aggregate(
        "embedding",
        F.lit(0).cast(DEC),
        lambda acc, v: (acc + F.abs(v).cast(DEC)).cast(DEC),
    ).cast("double")
    nbig = F.size(
        F.filter("embedding", lambda v: F.abs(v) > F.lit(HOF_BIG_CUTOFF))
    )
    per = emb.select(
        "label",
        l1.alias("l1"),
        nbig.alias("nbig"),
        # float32 → double BEFORE any arithmetic: DuckDB would otherwise
        # keep the whole qround pipeline in single precision (its floor()
        # of FLOAT stays FLOAT) while Spark's floor() widens — the one
        # place the engines' numeric promotion rules diverge
        F.array_max("embedding").cast("double").alias("mx"),
    )
    from .numeric import dsum, qround

    return per.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        qround(dsum(F.col("l1")) / F.count("*"), 6).alias("avg_l1"),
        qround(
            F.sum("nbig").cast("double") / F.count("*"), 6
        ).alias("avg_big_components"),
        qround(F.max("mx"), 6).alias("max_component"),
    )


def _array_hof_sql() -> str:
    return f"""
        WITH per AS (
          SELECT label,
                 (SELECT CAST(sum(CAST(abs(u.x) AS DECIMAL(24,8))) AS DOUBLE)
                  FROM (SELECT unnest(embedding) AS x) u) AS l1,
                 len(list_filter(embedding,
                                 x -> abs(x) > {HOF_BIG_CUTOFF})) AS nbig,
                 CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
          FROM embeddings)
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               {_q(_d('l1') + ' / count(*)', 6)} AS avg_l1,
               {_q('CAST(sum(nbig) AS DOUBLE) / count(*)', 6)}
                 AS avg_big_components,
               {_q('max(mx)', 6)} AS max_component
        FROM per GROUP BY label"""


register("array_hof_stats", _q_array_hof, _array_hof_sql())


# ===========================================================================
# multiple testing: Benjamini–Hochberg FDR over per-brand z-tests
# ===========================================================================


def _q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH step-up FDR control over 25 per-brand price z-tests
    (operators/relational.py:bh_fdr_brand_price) — the multiple-testing
    layer over the single-test primitives (welch_ttest et al.)."""
    return relational.bh_fdr_brand_price(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _bh_fdr_sql() -> str:
    from .operators.relational import BH_Q, sql_norm_sf

    z = (
        "((sx / nb) - ((sx_all - sx) / (n_all - nb)))"
        " / sqrt(((sxx - sx * sx / nb) / (nb - 1)) / nb"
        " + (((sxx_all - sxx) - (sx_all - sx) * (sx_all - sx) / (n_all - nb))"
        " / ((n_all - nb) - 1)) / (n_all - nb))"
    )
    return f"""
        WITH j AS (
          SELECT p_brand, CAST(l_extendedprice AS DOUBLE) AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        g AS (
          SELECT p_brand, CAST(count(*) AS DOUBLE) AS nb,
                 {_d38('y')} AS sx, {_d38('y * y')} AS sxx
          FROM j GROUP BY 1),
        tot AS (
          SELECT {_d38('nb')} AS n_all, {_d38('sx')} AS sx_all,
                 {_d38('sxx')} AS sxx_all
          FROM g),
        zc AS (
          SELECT p_brand, nb, {z} AS z
          FROM g CROSS JOIN tot),
        scored AS (
          SELECT p_brand AS brand, CAST(nb AS BIGINT) AS n_items,
                 {_q('z', 6)} AS z_score,
                 {_q('2.0 * ' + sql_norm_sf('abs(z)'), 6)} AS p_value
          FROM zc),
        ranked AS (
          SELECT brand, n_items, z_score, p_value,
                 row_number() OVER (ORDER BY p_value, brand) AS bh_rank,
                 count(*) OVER () AS m
          FROM scored),
        thr AS (
          SELECT *, {_q(f'{BH_Q} * bh_rank / m', 6)} AS bh_threshold
          FROM ranked),
        fin AS (
          SELECT *, max(CASE WHEN p_value <= bh_threshold THEN bh_rank END)
                      OVER () AS max_pass
          FROM thr)
        SELECT brand, n_items, z_score, p_value,
               CAST(bh_rank AS INT) AS bh_rank, bh_threshold,
               CAST(CASE WHEN bh_rank <= coalesce(max_pass, 0)
                         THEN 1 ELSE 0 END AS INT) AS rejected
        FROM fin"""


register("bh_fdr_brand_price", _q_bh_fdr, _bh_fdr_sql())


# ===========================================================================
# graph: bounded k-core peeling
# ===========================================================================


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-round k-core peel of the 1995Q1 supplier co-order graph
    (operators/graph.py:kcore_peel; edges: registry_ext._co_order_edges,
    the triangle_count/graph_bfs_levels graph). Exactly-R-rounds contract
    — no fixpoint detection to diverge between engines."""
    from .operators import graph as _g
    from .registry_ext import _co_order_edges

    return _g.kcore_peel(_co_order_edges(spark, sf_dir))


def _kcore_sql() -> str:
    from .operators.graph import KCORE_K, KCORE_ROUNDS

    ctes = """WITH sl AS (
          SELECT l_orderkey, l_suppkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-04-01'),
        e AS (
          SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
          FROM sl x JOIN sl y
            ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey),
        und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        a0 AS (SELECT DISTINCT a AS node FROM und)"""
    prev = "a0"
    for i in range(1, KCORE_ROUNDS + 1):
        ctes += f""",
        a{i} AS (
          SELECT u.a AS node FROM und u
          JOIN {prev} x ON u.a = x.node
          JOIN {prev} y ON u.b = y.node
          GROUP BY u.a HAVING count(*) >= {KCORE_K})"""
        prev = f"a{i}"
    return f"""{ctes}
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM a0) AS n_nodes_start,
               (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_alive,
               (SELECT CAST(count(*) AS BIGINT) FROM e
                JOIN {prev} x ON e.a = x.node
                JOIN {prev} y ON e.b = y.node) AS n_edges_alive,
               (SELECT CAST(min(d) AS BIGINT) FROM (
                  SELECT u.a, count(*) AS d FROM und u
                  JOIN {prev} x ON u.a = x.node
                  JOIN {prev} y ON u.b = y.node
                  GROUP BY u.a) t) AS min_degree_alive,
               CAST({KCORE_K} AS INT) AS k,
               CAST({KCORE_ROUNDS} AS INT) AS rounds"""


register("kcore_peel_rounds", _q_kcore, _kcore_sql())


# ===========================================================================
# corpus: Heaps'-law vocabulary growth
# ===========================================================================


def _q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(N) ≈ k·N^β over doc-id prefixes
    (operators/corpus.py:heaps_law_fit) — vocabulary growth for
    tokenizer capacity planning; zipf_fit's growth-curve twin."""
    from .operators import corpus as _c

    return _c.heaps_law_fit(load(spark, sf_dir, "documents"))


def _heaps_sql() -> str:
    from .operators.corpus import HEAPS_CHECKPOINTS as J

    v_cols = ",\n                 ".join(
        f"CAST(sum(CASE WHEN first < (mx * {j}) // {J} THEN 1 ELSE 0 END)"
        f" AS DOUBLE) AS v{j}"
        for j in range(1, J + 1)
    )
    n_cols = ",\n                 ".join(
        f"CAST(sum(CASE WHEN doc_id < (mx * {j}) // {J} THEN nt ELSE 0 END)"
        f" AS DOUBLE) AS n{j}"
        for j in range(1, J + 1)
    )
    unions = "\n            UNION ALL ".join(
        f"SELECT vocab_total, tokens_total, v{j} AS v, n{j} AS n"
        " FROM v CROSS JOIN n"
        for j in range(1, J + 1)
    )
    beta = "(sxy - sx * sy / np) / (sxx - sx * sx / np)"
    return f"""
        WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        firsts AS (
          SELECT term, min(doc_id) AS first
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents) t
          GROUP BY term),
        v AS (
          SELECT CAST(count(*) AS BIGINT) AS vocab_total,
                 {v_cols}
          FROM firsts CROSS JOIN mx),
        dt AS (SELECT doc_id, len(string_split(text, ' ')) AS nt
               FROM documents),
        n AS (
          SELECT CAST(sum(nt) AS BIGINT) AS tokens_total,
                 {n_cols}
          FROM dt CROSS JOIN mx),
        pts AS (
          SELECT vocab_total, tokens_total,
                 {_q('ln(n)', 8)} AS x, {_q('ln(v)', 8)} AS y
          FROM ({unions}) u
          WHERE v > 0 AND n > 0),
        r AS (
          SELECT CAST(count(*) AS DOUBLE) AS np,
                 max(vocab_total) AS vocab_total,
                 max(tokens_total) AS tokens_total,
                 {_d38('x')} AS sx, {_d38('y')} AS sy,
                 {_d38('x * x')} AS sxx, {_d38('x * y')} AS sxy
          FROM pts)
        SELECT CAST(np AS BIGINT) AS n_points,
               {_q(beta, 6)} AS heaps_beta,
               {_q(f'exp((sy - ({beta}) * sx) / np)', 4)} AS heaps_k,
               vocab_total, tokens_total
        FROM r"""


register("heaps_law_fit", _q_heaps, _heaps_sql())


# ===========================================================================
# randomization inference / effect sizes / conformal intervals / MI
# ===========================================================================


def _q_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic randomization test for the priority-pair mean gap
    (operators/relational.py:permutation_test_price): explode ×B with
    md5-lane label reassignment, one aggregate for all B replicates —
    the bootstrap_ci_revenue shape applied to hypothesis testing."""
    return relational.permutation_test_price(load(spark, sf_dir, "orders"))


def _perm_sql() -> str:
    from .operators.relational import PERM_B, TTEST_GROUP_A, TTEST_GROUP_B
    from .registry_ops import HEXDIGITS

    def hex_at(offset: int) -> str:
        # parse 8 hex chars of the shared digest column h at `offset` —
        # the same slice Spark takes with conv(substring(h, offset+1, 8))
        parts = [
            f"(strpos('{HEXDIGITS}', substr(h,{offset + i + 1},1))-1)*{16 ** (7 - i)}"
            for i in range(8)
        ]
        return "(" + " + ".join(parts) + ")"

    n_groups = (PERM_B + 3) // 4
    u_list = ", ".join(
        f"(CAST({hex_at(8 * j)} AS DOUBLE) / 4294967296.0)" for j in range(4)
    )
    return f"""
        WITH base AS (
          SELECT o_orderkey AS okey, CAST(o_totalprice AS DOUBLE) AS x,
                 o_orderpriority = '{TTEST_GROUP_A}' AS isa
          FROM orders
          WHERE o_orderpriority IN ('{TTEST_GROUP_A}', '{TTEST_GROUP_B}')),
        obs AS (
          SELECT CAST(count(CASE WHEN isa THEN 1 END) AS DOUBLE) AS na,
                 CAST(count(CASE WHEN NOT isa THEN 1 END) AS DOUBLE) AS nb,
                 {_d38('CASE WHEN isa THEN x END')} AS sxa,
                 {_d38('CASE WHEN NOT isa THEN x END')} AS sxb
          FROM base),
        obs2 AS (
          SELECT na, nb, sxa / na - sxb / nb AS obs, na / (na + nb) AS pa
          FROM obs),
        rep AS (
          SELECT okey, x, r.bg FROM base
          CROSS JOIN (SELECT unnest(range({n_groups})) AS bg) r),
        hx AS (
          SELECT x, bg,
                 md5(CAST(okey AS VARCHAR) || ':' || CAST(bg AS VARCHAR)) AS h
          FROM rep),
        lanes AS (
          SELECT x, bg * 4 + unnest([0, 1, 2, 3]) AS b,
                 unnest([{u_list}]) AS u
          FROM hx),
        drawn AS (
          SELECT x, b, u < pa AS toa FROM lanes CROSS JOIN obs2
          WHERE b < {PERM_B}),
        stats AS (
          SELECT b,
                 {_d38('CASE WHEN toa THEN x END')}
                   / CAST(NULLIF(count(CASE WHEN toa THEN 1 END), 0)
                          AS DOUBLE)
                 - {_d38('CASE WHEN NOT toa THEN x END')}
                   / CAST(NULLIF(count(CASE WHEN NOT toa THEN 1 END), 0)
                          AS DOUBLE) AS stat
          FROM drawn GROUP BY b),
        res AS (
          SELECT CAST(count(*) AS BIGINT) AS b_reps,
                 CAST(sum(CASE WHEN abs(stat) >= abs(obs) THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_extreme,
                 max(na) AS na, max(nb) AS nb, max(obs) AS obs
          FROM stats CROSS JOIN obs2)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               {_q('obs', 4)} AS obs_diff, b_reps, n_extreme,
               {_q('(1.0 + n_extreme) / (CAST(b_reps AS DOUBLE) + 1.0)', 6)}
                 AS p_value
        FROM res"""


register("permutation_test_price", _q_perm, _perm_sql())


def _q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g / Cliff's delta / CLES for the welch_ttest
    priority pair (operators/relational.py:effect_sizes_priority) —
    composes mann_whitney_u's rank-free U with one moment aggregate."""
    return relational.effect_sizes_priority(load(spark, sf_dir, "orders"))


def _effect_sizes_sql() -> str:
    from .operators.relational import TTEST_GROUP_A, TTEST_GROUP_B

    return f"""
        WITH base AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v,
                 o_orderpriority = '{TTEST_GROUP_A}' AS isa
          FROM orders
          WHERE o_orderpriority IN ('{TTEST_GROUP_A}', '{TTEST_GROUP_B}')),
        vals AS (
          SELECT v, count(CASE WHEN isa THEN 1 END) AS ca,
                 count(CASE WHEN NOT isa THEN 1 END) AS cb
          FROM base GROUP BY v),
        ranked AS (
          SELECT v, ca, cb, ca + cb AS t,
                 coalesce(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
          FROM vals),
        u AS (
          SELECT CAST(sum(CAST(ca AS DECIMAL(38,0))) AS DOUBLE) AS na,
                 CAST(sum(CAST(cb AS DECIMAL(38,0))) AS DOUBLE) AS nb,
                 CAST(sum(CAST(ca * (2 * cum_lt + t + 1) AS DECIMAL(38,0)))
                      AS DOUBLE) AS r2a
          FROM ranked),
        uu AS (SELECT na, nb, (r2a - na * (na + 1)) / 2.0 AS u_a FROM u),
        mom AS (
          SELECT {_d38('CASE WHEN isa THEN v END')} AS sxa,
                 {_d38('CASE WHEN isa THEN v * v END')} AS sxxa,
                 {_d38('CASE WHEN NOT isa THEN v END')} AS sxb,
                 {_d38('CASE WHEN NOT isa THEN v * v END')} AS sxxb
          FROM base),
        j AS (
          SELECT na, nb, u_a,
                 sxa / na AS ma, sxb / nb AS mb,
                 (sxxa - sxa * sxa / na) / (na - 1) AS va,
                 (sxxb - sxb * sxb / nb) / (nb - 1) AS vb
          FROM uu CROSS JOIN mom),
        d AS (
          SELECT na, nb, u_a,
                 (ma - mb) / sqrt(((na - 1) * va + (nb - 1) * vb)
                                  / (na + nb - 2)) AS cd
          FROM j)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               {_q('cd', 6)} AS cohens_d,
               {_q('cd * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))', 6)}
                 AS hedges_g,
               {_q('2.0 * (u_a / (na * nb)) - 1.0', 6)} AS cliffs_delta,
               {_q('u_a / (na * nb)', 6)} AS cles
        FROM d"""


register("effect_sizes_priority", _q_effect_sizes, _effect_sizes_sql())


def _q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval around the ridge price model
    (operators/relational.py:conformal_interval_price): hash split,
    closed-form fit on train, exact order-statistic width from the
    calibration residuals via the bucketed two-pass rank."""
    return relational.conformal_interval_price(load(spark, sf_dir, "lineitem"))


def _conformal_sql() -> str:
    from .operators.relational import (
        CONF_ALPHA,
        RIDGE_LAMBDA_PER_ROW,
    )
    from .registry_ops import _sql_md5_prefix_value

    key = (
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
    )
    u = f"(CAST({_sql_md5_prefix_value(key, 8)} AS DOUBLE) / 4294967296.0)"
    mom = lambda e: _d38(f"CASE WHEN is_train THEN {e} END")  # noqa: E731
    return f"""
        WITH base AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2,
                 {u} < 0.5 AS is_train,
                 l_orderkey AS okey, l_linenumber AS lno
          FROM lineitem),
        m AS (
          SELECT CAST(count(CASE WHEN is_train THEN 1 END) AS DOUBLE) AS n,
                 {mom('x1')} AS s1, {mom('x2')} AS s2, {mom('y')} AS sy,
                 {mom('x1 * x1')} AS s11, {mom('x2 * x2')} AS s22,
                 {mom('x1 * x2')} AS s12, {mom('x1 * y')} AS s1y,
                 {mom('x2 * y')} AS s2y
          FROM base),
        c AS (
          SELECT n, s1, s2, sy,
                 s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
                 s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
                 s2y - s2 * sy / n AS c2y,
                 {RIDGE_LAMBDA_PER_ROW} * n AS lam
          FROM m),
        fit AS (
          SELECT n AS n_train, s1, s2, sy,
                 ((c22 + lam) * c1y - c12 * c2y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b1,
                 ((c11 + lam) * c2y - c12 * c1y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b2
          FROM c),
        fit2 AS (
          SELECT n_train, b1, b2,
                 (sy - b1 * s1 - b2 * s2) / n_train AS b0
          FROM fit),
        cal AS (
          SELECT abs(y - (b0 + b1 * x1 + b2 * x2)) AS r, okey, lno
          FROM base CROSS JOIN fit2 WHERE NOT is_train),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        ranked AS (
          SELECT r, row_number() OVER (ORDER BY r, okey, lno) AS rk
          FROM cal),
        q AS (
          SELECT r AS q_width, n_cal FROM ranked CROSS JOIN nc
          WHERE rk = CAST(ceil((CAST(n_cal AS DOUBLE) + 1.0)
                               * {1.0 - CONF_ALPHA}) AS BIGINT)),
        cov AS (
          SELECT CAST(sum(CASE WHEN r <= q_width THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS coverage
          FROM cal CROSS JOIN q)
        SELECT CAST(n_train AS BIGINT) AS n_train, n_cal,
               {_q('b1', 6)} AS beta_qty,
               {_q('b2', 4)} AS beta_discount,
               {_q('b0', 4)} AS intercept,
               {_q('q_width', 4)} AS q_width,
               {_q('coverage', 6)} AS coverage
        FROM fit2 CROSS JOIN q CROSS JOIN cov"""


register("conformal_interval_price", _q_conformal, _conformal_sql())


def _q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between discretized (quantity, discount)
    (operators/profiling.py:mutual_info_features) — the nonlinear
    feature-redundancy screen next to correlation_matrix."""
    from .operators import profiling as _p

    return _p.mutual_info_features(load(spark, sf_dir, "lineitem"))


def _mutual_info_sql() -> str:
    from .operators.profiling import MI_LN_SCALE, MI_QTY_BIN

    return f"""
        WITH joint AS (
          SELECT floor(CAST(l_quantity AS DOUBLE) / {MI_QTY_BIN}) AS xb,
                 CAST(l_discount AS DOUBLE) AS yb, count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        cells AS (
          SELECT c, sum(c) OVER (PARTITION BY xb) AS cxr,
                 sum(c) OVER (PARTITION BY yb) AS cyr,
                 sum(c) OVER () AS nnr
          FROM joint),
        terms AS (
          SELECT CAST(c AS DOUBLE) AS c, CAST(cxr AS DOUBLE) AS cx,
                 CAST(cyr AS DOUBLE) AS cy, CAST(nnr AS DOUBLE) AS nn,
                 nnr
          FROM cells),
        agg AS (
          SELECT CAST(max(nnr) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 {_d38(_q('c / nn * ln(c * nn / (cx * cy))', MI_LN_SCALE))}
                   AS mi,
                 {_d38(_q('-(c / nn) * ln(cx / nn)', MI_LN_SCALE))} AS hx,
                 {_d38(_q('-(c / nn) * ln(cy / nn)', MI_LN_SCALE))} AS hy
          FROM terms)
        SELECT n_rows, n_cells,
               {_q('mi', 6)} AS mi_nats,
               {_q('hx', 6)} AS h_x,
               {_q('hy', 6)} AS h_y,
               {_q('mi / sqrt(hx * hy)', 6)} AS nmi
        FROM agg"""


register("mutual_info_features", _q_mutual_info, _mutual_info_sql())


# ===========================================================================
# regression diagnostics: VIF / partial correlation / Cook's distance
# ===========================================================================


def _q_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for (quantity, discount, tax)
    (operators/relational.py:vif_features): one moment aggregate, three
    closed-form 2x2 solves."""
    return relational.vif_features(load(spark, sf_dir, "lineitem"))


def _c(i: str, j: str) -> str:
    a, b = sorted((i, j))
    return f"(s{a}{b} - s{a} * s{b} / n)"


def _vif_sql() -> str:
    def r2(y: str, a: str, b: str) -> str:
        caa, cbb, cab = _c(a, a), _c(b, b), _c(a, b)
        cay, cby = _c(a, y), _c(b, y)
        det = f"({caa} * {cbb} - {cab} * {cab})"
        b1 = f"(({cbb} * {cay} - {cab} * {cby}) / {det})"
        b2 = f"(({caa} * {cby} - {cab} * {cay}) / {det})"
        return f"(({b1} * {cay} + {b2} * {cby}) / {_c(y, y)})"

    return f"""
        WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(l_quantity AS DOUBLE)')} AS s1,
                 {_d38('CAST(l_discount AS DOUBLE)')} AS s2,
                 {_d38('CAST(l_tax AS DOUBLE)')} AS s3,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_quantity AS DOUBLE)')} AS s11,
                 {_d38('CAST(l_discount AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS s22,
                 {_d38('CAST(l_tax AS DOUBLE) * CAST(l_tax AS DOUBLE)')} AS s33,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS s12,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_tax AS DOUBLE)')} AS s13,
                 {_d38('CAST(l_discount AS DOUBLE)'
                       ' * CAST(l_tax AS DOUBLE)')} AS s23
          FROM lineitem)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q(f"1.0 / (1.0 - {r2('1', '2', '3')})", 6)} AS vif_qty,
               {_q(f"1.0 / (1.0 - {r2('2', '1', '3')})", 6)} AS vif_discount,
               {_q(f"1.0 / (1.0 - {r2('3', '1', '2')})", 6)} AS vif_tax
        FROM m"""


register("vif_features", _q_vif, _vif_sql())


def _q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of price~quantity controlling for
    discount (operators/relational.py:partial_corr_price)."""
    return relational.partial_corr_price(load(spark, sf_dir, "lineitem"))


def _partial_corr_sql() -> str:
    def corr(a: str, b: str) -> str:
        ab = "s" + "".join(sorted((a, b)))
        caa = f"(s{a}{a} - s{a} * s{a} / n)"
        cbb = f"(s{b}{b} - s{b} * s{b} / n)"
        cab = f"({ab} - s{a} * s{b} / n)"
        return f"({cab} / sqrt({caa} * {cbb}))"

    rxy, rxz, rzy = corr("x", "y"), corr("x", "z"), corr("y", "z")
    return f"""
        WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(l_extendedprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(l_quantity AS DOUBLE)')} AS sy,
                 {_d38('CAST(l_discount AS DOUBLE)')} AS sz,
                 {_d38('CAST(l_extendedprice AS DOUBLE)'
                       ' * CAST(l_extendedprice AS DOUBLE)')} AS sxx,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_quantity AS DOUBLE)')} AS syy,
                 {_d38('CAST(l_discount AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS szz,
                 {_d38('CAST(l_extendedprice AS DOUBLE)'
                       ' * CAST(l_quantity AS DOUBLE)')} AS sxy,
                 {_d38('CAST(l_extendedprice AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS sxz,
                 {_d38('CAST(l_quantity AS DOUBLE)'
                       ' * CAST(l_discount AS DOUBLE)')} AS syz
          FROM lineitem)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q(rxy, 6)} AS r_price_qty,
               {_q(rxz, 6)} AS r_price_discount,
               {_q(rzy, 6)} AS r_qty_discount,
               {_q(f'({rxy} - {rxz} * {rzy})'
                   f' / sqrt((1.0 - {rxz} * {rxz})'
                   f' * (1.0 - {rzy} * {rzy}))', 6)} AS partial_r
        FROM m"""


register("partial_corr_price", _q_partial_corr, _partial_corr_sql())


def _q_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's-distance top-10 influence screen for the OLS price model
    (operators/relational.py:regression_influence_topk): closed-form fit
    + per-row leverage as map arithmetic, TakeOrderedAndProject top-k."""
    return relational.regression_influence_topk(load(spark, sf_dir, "lineitem"))


def _influence_sql() -> str:
    from .operators.relational import INFLUENCE_TOPK

    return f"""
        WITH base AS (
          SELECT l_orderkey AS okey, l_linenumber AS lno,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem),
        m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('x1')} AS s1, {_d38('x2')} AS s2, {_d38('y')} AS sy,
                 {_d38('x1 * x1')} AS s11, {_d38('x2 * x2')} AS s22,
                 {_d38('x1 * x2')} AS s12, {_d38('x1 * y')} AS s1y,
                 {_d38('x2 * y')} AS s2y, {_d38('y * y')} AS syy
          FROM base),
        c AS (
          SELECT n, s1, s2, sy,
                 s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
                 s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
                 s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy
          FROM m),
        f0 AS (
          SELECT n, s1, s2, sy, c11, c22, c12, c1y, c2y, cyy,
                 c11 * c22 - c12 * c12 AS det
          FROM c),
        fit AS (
          SELECT n AS nn,
                 (c22 * c1y - c12 * c2y) / det AS b1,
                 (c11 * c2y - c12 * c1y) / det AS b2,
                 s1 / n AS m1, s2 / n AS m2, sy / n AS my,
                 c22 / det AS i11, -c12 / det AS i12, c11 / det AS i22,
                 (cyy - ((c22 * c1y - c12 * c2y) / det) * c1y
                      - ((c11 * c2y - c12 * c1y) / det) * c2y) / (n - 3)
                   AS s2e
          FROM f0),
        per AS (
          SELECT okey, lno,
                 1.0 / nn + (x1 - m1) * (i11 * (x1 - m1) + i12 * (x2 - m2))
                          + (x2 - m2) * (i12 * (x1 - m1) + i22 * (x2 - m2))
                   AS h,
                 y - (my + b1 * (x1 - m1) + b2 * (x2 - m2)) AS e,
                 s2e
          FROM base CROSS JOIN fit),
        scored AS (
          SELECT okey, lno, {_q('h', 9)} AS leverage, {_q('e', 4)} AS residual,
                 e * e / (3.0 * s2e) * (h / ((1.0 - h) * (1.0 - h)))
                   AS cook_raw
          FROM per),
        top AS (
          SELECT * FROM scored
          ORDER BY cook_raw DESC, okey, lno LIMIT {INFLUENCE_TOPK})
        SELECT CAST(row_number() OVER (ORDER BY cook_raw DESC, okey, lno)
                    AS INT) AS rank,
               okey AS l_orderkey, lno AS l_linenumber,
               leverage, residual, {_q('cook_raw', 9)} AS cooks_d
        FROM top"""


register("regression_influence_topk", _q_influence, _influence_sql())


def _q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity F across the five priorities
    (operators/relational.py:levene_brown_forsythe): exact per-group
    medians via the group-partitioned bucketed rank, then one-aggregate
    ANOVA on |x - median_g|."""
    return relational.levene_brown_forsythe(load(spark, sf_dir, "orders"))


def _levene_sql() -> str:
    return f"""
        WITH base AS (
          SELECT o_orderpriority AS grp, CAST(o_totalprice AS DOUBLE) AS v
          FROM orders),
        vals AS (SELECT grp, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        ng AS (SELECT grp, sum(cnt) AS n_g FROM vals GROUP BY 1),
        ranked AS (
          SELECT grp, v, cnt,
                 sum(cnt) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM vals),
        med AS (
          SELECT r.grp, r.v AS med
          FROM ranked r JOIN ng USING (grp)
          WHERE r.cum - r.cnt < ceil(CAST(n_g AS DOUBLE) / 2.0)
            AND r.cum >= ceil(CAST(n_g AS DOUBLE) / 2.0)),
        g AS (
          SELECT b.grp, CAST(count(*) AS DOUBLE) AS ng2,
                 {_d38('abs(v - med)')} AS sz,
                 {_d38('abs(v - med) * abs(v - med)')} AS szz
          FROM base b JOIN med USING (grp) GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 {_d38('ng2')} AS n_total,
                 {_d38('sz')} AS sz_all,
                 {_d38('szz')} AS szz_all,
                 {_d38('sz * sz / ng2')} AS sb_raw
          FROM g)
        SELECT CAST(n_total AS BIGINT) AS n_total, k_groups,
               {_q('((sb_raw - sz_all * sz_all / n_total)'
                   ' / (CAST(k_groups AS DOUBLE) - 1))'
                   ' / (((szz_all - sz_all * sz_all / n_total)'
                   '     - (sb_raw - sz_all * sz_all / n_total))'
                   '    / (n_total - CAST(k_groups AS DOUBLE)))', 6)}
                 AS f_stat,
               {_q('(sb_raw - sz_all * sz_all / n_total)'
                   ' / (szz_all - sz_all * sz_all / n_total)', 9)}
                 AS eta_squared
        FROM agg"""


register("levene_brown_forsythe", _q_levene, _levene_sql())


# ===========================================================================
# econometric / time-series diagnostics
# ===========================================================================


def _q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of order values
    (operators/relational.py:jarque_bera_price): one quartic-moment
    aggregate; p = exp(-JB/2), the exact chi-square(2) survival."""
    return relational.jarque_bera_price(load(spark, sf_dir, "orders"))


def _jarque_bera_sql() -> str:
    from .operators.relational import JB_SCALE

    x = f"(CAST(o_totalprice AS DOUBLE) / {JB_SCALE})"
    mu = "(s1 / n)"
    m2 = f"(s2 / n - {mu} * {mu})"
    m3 = f"(s3 / n - 3.0 * {mu} * s2 / n + 2.0 * {mu} * {mu} * {mu})"
    m4 = (
        f"(s4 / n - 4.0 * {mu} * s3 / n + 6.0 * {mu} * {mu} * s2 / n"
        f" - 3.0 * {mu} * {mu} * {mu} * {mu})"
    )
    s = f"({m3} / ({m2} * sqrt({m2})))"
    k = f"({m4} / ({m2} * {m2}))"
    jb = f"(n / 6.0 * ({s} * {s} + ({k} - 3.0) * ({k} - 3.0) / 4.0))"
    return f"""
        WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38(x)} AS s1, {_d38(f'{x} * {x}')} AS s2,
                 {_d38(f'{x} * {x} * {x}')} AS s3,
                 {_d38(f'{x} * {x} * {x} * {x}')} AS s4
          FROM orders)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q(s, 6)} AS skewness,
               {_q(k, 6)} AS kurtosis,
               {_q(jb, 4)} AS jb_stat,
               {_q(f'exp(-0.5 * {jb})', 6)} AS p_value
        FROM m"""


register("jarque_bera_price", _q_jarque_bera, _jarque_bera_sql())


def _q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the daily-trend OLS residuals
    (operators/relational.py:durbin_watson_daily); calendar-bounded
    frame."""
    return relational.durbin_watson_daily(load(spark, sf_dir, "orders"))


def _durbin_watson_sql() -> str:
    from .operators.relational import TS_BASE_DATE

    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        d AS (
          SELECT CAST(datediff('day', DATE '{TS_BASE_DATE}', day) AS DOUBLE)
                   AS t, y, day
          FROM daily),
        m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('t')} AS st, {_d38('y')} AS sy,
                 {_d38('t * t')} AS stt, {_d38('t * y')} AS sty
          FROM d),
        m2 AS (
          SELECT n, (sty - st * sy / n) / (stt - st * st / n) AS slope,
                 st, sy
          FROM m),
        m3 AS (SELECT n, slope, (sy - slope * st) / n AS icept FROM m2),
        e AS (
          SELECT day, n, slope, y - (icept + slope * t) AS e
          FROM d CROSS JOIN m3),
        lagd AS (
          SELECT n, slope, e, lag(e, 1) OVER (ORDER BY day) AS ep FROM e),
        agg AS (
          SELECT max(n) AS n, max(slope) AS slope,
                 {_d38('e * e')} AS sse,
                 {_d38('(e - ep) * (e - ep)')} AS sdd
          FROM lagd)
        SELECT CAST(n AS BIGINT) AS n_days,
               {_q('slope', 6)} AS slope_per_day,
               {_q('sdd / sse', 6)} AS dw_stat
        FROM agg"""


register("durbin_watson_daily", _q_durbin_watson, _durbin_watson_sql())


def _q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity LM test for the OLS price model
    (operators/relational.py:breusch_pagan_price): fit, then auxiliary
    R2 of squared residuals on the features; p = exp(-LM/2)."""
    return relational.breusch_pagan_price(load(spark, sf_dir, "lineitem"))


def _breusch_pagan_sql() -> str:
    return f"""
        WITH base AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem),
        m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('x1')} AS s1, {_d38('x2')} AS s2, {_d38('y')} AS sy,
                 {_d38('x1 * x1')} AS s11, {_d38('x2 * x2')} AS s22,
                 {_d38('x1 * x2')} AS s12, {_d38('x1 * y')} AS s1y,
                 {_d38('x2 * y')} AS s2y
          FROM base),
        c AS (
          SELECT n, s1 / n AS m1, s2 / n AS m2, sy / n AS my,
                 s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
                 s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
                 s2y - s2 * sy / n AS c2y
          FROM m),
        fit AS (
          SELECT m1, m2, my,
                 (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
                 (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
          FROM c),
        uu AS (
          SELECT x1, x2,
                 (y - (my + b1 * (x1 - m1) + b2 * (x2 - m2)))
                 * (y - (my + b1 * (x1 - m1) + b2 * (x2 - m2))) AS u
          FROM base CROSS JOIN fit),
        a AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('x1')} AS s1, {_d38('x2')} AS s2, {_d38('u')} AS su,
                 {_d38('x1 * x1')} AS s11, {_d38('x2 * x2')} AS s22,
                 {_d38('x1 * x2')} AS s12, {_d38('x1 * u')} AS s1u,
                 {_d38('x2 * u')} AS s2u, {_d38('u * u')} AS suu
          FROM uu),
        dd AS (
          SELECT n,
                 s11 - s1 * s1 / n AS d11, s22 - s2 * s2 / n AS d22,
                 s12 - s1 * s2 / n AS d12, s1u - s1 * su / n AS d1u,
                 s2u - s2 * su / n AS d2u, suu - su * su / n AS duu
          FROM a),
        r AS (
          SELECT n,
                 (((d22 * d1u - d12 * d2u) / (d11 * d22 - d12 * d12)) * d1u
                  + ((d11 * d2u - d12 * d1u) / (d11 * d22 - d12 * d12)) * d2u)
                 / duu AS r2
          FROM dd)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q('r2', 9)} AS r2_aux,
               {_q('n * r2', 4)} AS lm_stat,
               {_q('exp(-0.5 * n * r2)', 6)} AS p_value
        FROM r"""


register("breusch_pagan_price", _q_breusch_pagan, _breusch_pagan_sql())


def _q_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F test of the daily trend at the candidate
    break date (operators/relational.py:chow_break_test): one
    conditional-moment aggregate, closed-form SSEs."""
    return relational.chow_break_test(load(spark, sf_dir, "orders"))


def _chow_sql() -> str:
    from .operators.relational import CHOW_BREAK_DATE, TS_BASE_DATE

    def side(tag: str, pred: str) -> str:
        return (
            f"CAST(count(CASE WHEN {pred} THEN 1 END) AS DOUBLE) AS n_{tag},\n"
            f"                 {_d38(f'CASE WHEN {pred} THEN t END')} AS st_{tag},\n"
            f"                 {_d38(f'CASE WHEN {pred} THEN y END')} AS sy_{tag},\n"
            f"                 {_d38(f'CASE WHEN {pred} THEN t * t END')} AS stt_{tag},\n"
            f"                 {_d38(f'CASE WHEN {pred} THEN t * y END')} AS sty_{tag},\n"
            f"                 {_d38(f'CASE WHEN {pred} THEN y * y END')} AS syy_{tag}"
        )

    def sse(tag: str) -> str:
        n = f"n_{tag}"
        ctt = f"(stt_{tag} - st_{tag} * st_{tag} / {n})"
        cty = f"(sty_{tag} - st_{tag} * sy_{tag} / {n})"
        cyy = f"(syy_{tag} - sy_{tag} * sy_{tag} / {n})"
        return f"({cyy} - {cty} * {cty} / {ctt})"

    np_ = "(n_a + n_b)"
    stp, syp = "(st_a + st_b)", "(sy_a + sy_b)"
    cttp = f"(stt_a + stt_b - {stp} * {stp} / {np_})"
    ctyp = f"(sty_a + sty_b - {stp} * {syp} / {np_})"
    cyyp = f"(syy_a + syy_b - {syp} * {syp} / {np_})"
    sse_p = f"({cyyp} - {ctyp} * {ctyp} / {cttp})"
    s1, s2 = sse("a"), sse("b")
    f = (
        f"((({sse_p} - {s1} - {s2}) / 2.0)"
        f" / (({s1} + {s2}) / ({np_} - 4.0)))"
    )
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        d AS (
          SELECT CAST(datediff('day', DATE '{TS_BASE_DATE}', day) AS DOUBLE)
                   AS t, y,
                 day < DATE '{CHOW_BREAK_DATE}' AS pre
          FROM daily),
        m AS (
          SELECT {side('a', 'pre')},
                 {side('b', 'NOT pre')}
          FROM d)
        SELECT CAST(n_a AS BIGINT) AS n_days_pre,
               CAST(n_b AS BIGINT) AS n_days_post,
               {_q(f, 4)} AS f_stat,
               {_q(f'({sse_p} - {s1} - {s2}) / {sse_p}', 9)}
                 AS sse_drop_share
        FROM m"""


register("chow_break_test", _q_chow, _chow_sql())


def _q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of daily-revenue randomness around the
    exact median (operators/relational.py:runs_test_daily)."""
    return relational.runs_test_daily(load(spark, sf_dir, "orders"))


def _runs_test_sql() -> str:
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        nrow AS (SELECT count(*) AS nd FROM daily),
        med AS (
          SELECT y AS med FROM (
            SELECT y, row_number() OVER (ORDER BY y, day) AS rk
            FROM daily) t CROSS JOIN nrow
          WHERE rk = ceil(CAST(nd AS DOUBLE) / 2.0)),
        signs AS (
          SELECT day, y > med AS up FROM daily CROSS JOIN med
          WHERE y <> med),
        runs AS (
          SELECT up,
                 CASE WHEN lag(up, 1) OVER (ORDER BY day) IS NULL
                        OR lag(up, 1) OVER (ORDER BY day) <> up
                      THEN 1 ELSE 0 END AS new_run
          FROM signs),
        agg AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                 CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS DOUBLE)
                   AS n2,
                 CAST(sum(new_run) AS DOUBLE) AS r
          FROM runs)
        SELECT CAST(n AS BIGINT) AS n_days_used,
               CAST(n1 AS BIGINT) AS n_above,
               CAST(n2 AS BIGINT) AS n_below,
               CAST(r AS BIGINT) AS n_runs,
               CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                         / (n * n * (n - 1)) > 0
                    THEN {_q('(r - (1.0 + 2.0 * n1 * n2 / n))'
                             ' / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)'
                             ' / (n * n * (n - 1)))', 6)}
               END AS z_score
        FROM agg"""


register("runs_test_daily", _q_runs_test, _runs_test_sql())


def _q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1-3 via
    closed-form Durbin-Levinson/Cramer on the sample ACF
    (operators/relational.py:pacf_daily_revenue)."""
    return relational.pacf_daily_revenue(load(spark, sf_dir, "orders"))


def _pacf_sql() -> str:
    from .operators.relational import ACF_REV_SCALE

    r1, r2, r3 = "(num1 / den)", "(num2 / den)", "(num3 / den)"
    p2 = f"(({r2} - {r1} * {r1}) / (1.0 - {r1} * {r1}))"
    det_t = (
        f"(1.0 - 2.0 * {r1} * {r1} - {r2} * {r2}"
        f" + 2.0 * {r1} * {r1} * {r2})"
    )
    det_m = (
        f"(({r3} - {r1} * {r2})"
        f" - {r1} * ({r1} * {r3} - {r2} * {r2})"
        f" + {r1} * ({r1} * {r1} - {r2}))"
    )
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} / {ACF_REV_SCALE} AS x
          FROM orders GROUP BY 1),
        m AS (SELECT {_d('x')} / CAST(count(*) AS DOUBLE) AS mu FROM daily),
        dev AS (SELECT day, x - mu AS dv FROM daily CROSS JOIN m),
        lagd AS (
          SELECT dv, lag(dv, 1) OVER (ORDER BY day) AS l1,
                 lag(dv, 2) OVER (ORDER BY day) AS l2,
                 lag(dv, 3) OVER (ORDER BY day) AS l3
          FROM dev),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
                 {_d('dv * dv')} AS den,
                 {_d('dv * l1')} AS num1, {_d('dv * l2')} AS num2,
                 {_d('dv * l3')} AS num3
          FROM lagd)
        SELECT n_days,
               {_q(r1, 6)} AS r1, {_q(r2, 6)} AS r2, {_q(r3, 6)} AS r3,
               {_q(r1, 6)} AS pacf1,
               {_q(p2, 6)} AS pacf2,
               {_q(f'{det_m} / {det_t}', 6)} AS pacf3
        FROM agg"""


register("pacf_daily_revenue", _q_pacf, _pacf_sql())


# ===========================================================================
# corpus novelty / funnel / risk / inventory / pricing
# ===========================================================================


def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty rate
    (operators/corpus.py:ngram_novelty_rate): fraction of each doc's
    distinct 3-grams first seen in that doc, reduced per source."""
    from .operators import corpus as _c

    return _c.ngram_novelty_rate(load(spark, sf_dir, "documents"))


def _novelty_sql() -> str:
    n = 3
    return f"""
        WITH toks AS (
          SELECT doc_id, source, string_split(text, ' ') AS tk
          FROM documents),
        grams AS (
          SELECT doc_id, source, unnest(list_distinct(
                 [array_to_string(tk[i:i+{n - 1}], ' ')
                  for i in range(1, len(tk)-{n - 2})])) AS g
          FROM toks),
        first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
        per_doc AS (
          SELECT doc_id, source, count(*) AS n_grams,
                 sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                   AS n_novel
          FROM grams JOIN first USING (g)
          GROUP BY 1, 2)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_grams) AS BIGINT) AS n_grams,
               CAST(sum(n_novel) AS BIGINT) AS n_novel,
               {_q('CAST(sum(n_novel) AS DOUBLE)'
                   ' / CAST(sum(n_grams) AS DOUBLE)', 6)} AS novelty_rate
        FROM per_doc GROUP BY source"""


register("ngram_novelty_rate", _q_novelty, _novelty_sql())


def _q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound ordered funnel, the ClickHouse windowFunnel shape
    (operators/events.py:window_funnel_timebound): chain-of-first-
    occurrence levels within a 60-minute anchor window."""
    from .operators import events as _e

    return _e.window_funnel_timebound(load(spark, sf_dir, "events"))


def _window_funnel_sql() -> str:
    from .operators.events import FUNNEL_STEPS, WF_WINDOW_MIN

    steps = FUNNEL_STEPS
    in_list = ", ".join(f"'{s}'" for s in steps)
    ctes = [
        f"""ev AS (
          SELECT user_id AS u, event_type AS et, ts FROM events
          WHERE event_type IN ({in_list}))""",
        f"""l1 AS (
          SELECT u, min(ts) AS t1, min(ts) AS tk FROM ev
          WHERE et = '{steps[0]}' GROUP BY u)""",
    ]
    for k, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"""l{k} AS (
          SELECT e.u, p.t1, min(e.ts) AS tk
          FROM ev e JOIN l{k - 1} p ON e.u = p.u
          WHERE e.et = '{step}' AND e.ts > p.tk
            AND e.ts <= p.t1 + INTERVAL {WF_WINDOW_MIN} MINUTE
          GROUP BY 1, 2)"""
        )
    unions = "\n          UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS level, '{steps[k - 1]}' AS step,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM l{k}) AS n_users"
        for k in range(1, len(steps) + 1)
    )
    return f"""
        WITH {','.join(ctes)},
        lv AS ({unions}),
        base AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM l1)
        SELECT level, step, n_users,
               {_q('CAST(n_users AS DOUBLE) / n1', 6)} AS conversion_from_l1
        FROM lv CROSS JOIN base"""


register("window_funnel_timebound", _q_window_funnel, _window_funnel_sql())


def _q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue
    (operators/relational.py:max_drawdown_daily); calendar-bounded
    running-max window + deterministic argmax pick."""
    return relational.max_drawdown_daily(load(spark, sf_dir, "orders"))


def _drawdown_sql() -> str:
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, {_d('o_totalprice')} AS y
          FROM orders GROUP BY 1),
        dd AS (
          SELECT day, y,
                 max(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
          FROM daily),
        scored AS (
          SELECT day, y, peak, peak - y AS dd_abs,
                 (peak - y) / peak AS dd_rel
          FROM dd),
        worst AS (
          SELECT * FROM scored
          ORDER BY dd_rel DESC, day LIMIT 1),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        SELECT n_days, day AS trough_day,
               {_q('peak', 4)} AS peak_revenue,
               {_q('y', 4)} AS trough_revenue,
               {_q('dd_abs', 4)} AS max_drawdown_abs,
               {_q('dd_rel', 6)} AS max_drawdown_rel
        FROM worst CROSS JOIN nd"""


register("max_drawdown_daily", _q_drawdown, _drawdown_sql())


def _q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix (operators/relational.py:abc_xyz_parts):
    bucketed-prefix cumulative revenue share x monthly-demand CV."""
    return relational.abc_xyz_parts(load(spark, sf_dir, "lineitem"))


def _abc_xyz_sql() -> str:
    from .operators.relational import ABC_CUTS, XYZ_CUTS

    dec = "DECIMAL(38,8)"
    return f"""
        WITH base AS (
          SELECT l_partkey, CAST(l_extendedprice AS DOUBLE) AS rev,
                 CAST(l_quantity AS DOUBLE) AS qty,
                 date_trunc('month', l_shipdate) AS month
          FROM lineitem),
        pm AS (
          SELECT l_partkey, month, {_d('qty')} AS mq, {_d('rev')} AS mr
          FROM base GROUP BY 1, 2),
        parts AS (
          SELECT l_partkey,
                 CAST(sum(CAST(mr AS {dec})) AS DOUBLE) AS rev,
                 CAST(count(*) AS DOUBLE) AS nm,
                 CAST(sum(CAST(mq AS {dec})) AS DOUBLE) AS sq,
                 CAST(sum(CAST(mq * mq AS {dec})) AS DOUBLE) AS sqq
          FROM pm GROUP BY 1),
        scored AS (
          SELECT l_partkey, rev,
                 sqrt(greatest(sqq / nm - (sq / nm) * (sq / nm), 0.0))
                   / (sq / nm) AS cv,
                 -floor(log10(greatest(rev, 1.0))) AS bucket
          FROM parts),
        buckets AS (
          SELECT bucket, CAST(sum(CAST(rev AS {dec})) AS DOUBLE) AS bt
          FROM scored GROUP BY 1),
        offsets AS (
          SELECT b.bucket,
                 coalesce(CAST(sum(CAST(p.bt AS {dec})) AS DOUBLE), 0.0)
                   AS off
          FROM buckets b
          LEFT JOIN buckets p ON p.bucket < b.bucket
          GROUP BY b.bucket),
        tot AS (
          SELECT CAST(sum(CAST(rev AS {dec})) AS DOUBLE) AS tr FROM parts),
        ranked AS (
          SELECT s.rev, s.cv, t.tr,
                 o.off + coalesce(CAST(sum(CAST(s.rev AS {dec})) OVER (
                     PARTITION BY s.bucket
                     ORDER BY s.rev DESC, s.l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS DOUBLE), 0.0) AS cum_before
          FROM scored s JOIN offsets o ON s.bucket = o.bucket
          CROSS JOIN tot t),
        cls AS (
          SELECT CASE WHEN cum_before / tr < {ABC_CUTS[0]} THEN 'A'
                      WHEN cum_before / tr < {ABC_CUTS[1]} THEN 'B'
                      ELSE 'C' END AS abc,
                 CASE WHEN cv < {XYZ_CUTS[0]} THEN 'X'
                      WHEN cv < {XYZ_CUTS[1]} THEN 'Y'
                      ELSE 'Z' END AS xyz,
                 rev, tr
          FROM ranked)
        SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
               {_q(f'CAST(sum(CAST(rev AS {dec})) AS DOUBLE) / max(tr)', 6)}
                 AS revenue_share
        FROM cls GROUP BY 1, 2"""


register("abc_xyz_parts", _q_abc_xyz, _abc_xyz_sql())


def _q_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log price elasticity of demand
    (operators/relational.py:price_elasticity_by_brand): one join, one
    moment aggregate, closed-form slope/R2 per brand."""
    return relational.price_elasticity_by_brand(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _elasticity_sql() -> str:
    from .operators.relational import ELASTICITY_LN_SCALE as LS

    x = _q("ln(CAST(l_extendedprice AS DOUBLE)"
           " / CAST(l_quantity AS DOUBLE))", LS)
    y = _q("ln(CAST(l_quantity AS DOUBLE))", LS)
    return f"""
        WITH j AS (
          SELECT p_brand AS brand, {x} AS x, {y} AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        g AS (
          SELECT brand, CAST(count(*) AS DOUBLE) AS n,
                 {_d38('x')} AS sx, {_d38('y')} AS sy,
                 {_d38('x * x')} AS sxx, {_d38('x * y')} AS sxy,
                 {_d38('y * y')} AS syy
          FROM j GROUP BY 1)
        SELECT brand, CAST(n AS BIGINT) AS n_items,
               {_q('(sxy - sx * sy / n) / (sxx - sx * sx / n)', 6)}
                 AS elasticity,
               {_q('(sxy - sx * sy / n) * (sxy - sx * sy / n)'
                   ' / ((sxx - sx * sx / n) * (syy - sy * sy / n))', 6)}
                 AS r_squared
        FROM g"""


register("price_elasticity_by_brand", _q_elasticity, _elasticity_sql())


# streaming twin of the time-bound funnel — shares the batch oracle
def _q_streaming_wfunnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowFunnel via applyInPandasWithState
    (streaming/stream_queries.py:streaming_window_funnel); per-user
    (anchor, last-step, level) state machine, oracle shared verbatim
    with the batch window_funnel_timebound."""
    from .streaming import stream_queries as _sq

    return _sq.streaming_window_funnel(spark, sf_dir)


register("streaming_window_funnel", _q_streaming_wfunnel, _window_funnel_sql())


# ===========================================================================
# interpolated quantiles / concentration / sampling design
# ===========================================================================


def _q_pcont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard PERCENTILE_CONT per priority
    (operators/relational.py:percentile_cont_priority): both engines run
    the same h = (n-1)p + 1 interpolation over group-partitioned
    bucketed ranks."""
    return relational.percentile_cont_priority(load(spark, sf_dir, "orders"))


def _pcont_sql() -> str:
    from .operators.relational import PCONT_PS

    picks = []
    outs = []
    for p in PCONT_PS:
        tag = str(int(p * 100))
        h = f"((CAST(n_g AS DOUBLE) - 1.0) * {p} + 1.0)"
        picks.append(
            f"max(CASE WHEN cum - cnt < floor({h}) AND cum >= floor({h})"
            f" THEN v END) AS lo{tag}"
        )
        picks.append(
            f"max(CASE WHEN cum - cnt < floor({h}) + 1"
            f" AND cum >= floor({h}) + 1 THEN v END) AS hi{tag}"
        )
        picks.append(f"max({h} - floor({h})) AS fr{tag}")
        outs.append(
            _q(f"lo{tag} + fr{tag} * (coalesce(hi{tag}, lo{tag}) - lo{tag})", 4)
            + f" AS p{tag}"
        )
    return f"""
        WITH base AS (
          SELECT o_orderpriority AS grp, CAST(o_totalprice AS DOUBLE) AS v
          FROM orders),
        vals AS (SELECT grp, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        ng AS (SELECT grp, sum(cnt) AS n_g FROM vals GROUP BY 1),
        ranked AS (
          SELECT grp, v, cnt,
                 sum(cnt) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM vals),
        g AS (
          SELECT r.grp, max(n_g) AS n_g,
                 {', '.join(picks)}
          FROM ranked r JOIN ng USING (grp)
          GROUP BY r.grp)
        SELECT grp AS priority, CAST(n_g AS BIGINT) AS n,
               {', '.join(outs)}
        FROM g"""


register("percentile_cont_priority", _q_pcont, _pcont_sql())


def _q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman brand concentration + effective-N
    (operators/relational.py:hhi_brand_concentration)."""
    return relational.hhi_brand_concentration(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def _hhi_sql() -> str:
    dec = "DECIMAL(38,8)"
    return f"""
        WITH j AS (
          SELECT p_brand, CAST(l_extendedprice AS DOUBLE) AS rev
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        g AS (SELECT p_brand, {_d38('rev')} AS rev FROM j GROUP BY 1),
        tot AS (
          SELECT CAST(sum(CAST(rev AS {dec})) AS DOUBLE) AS tr FROM g),
        s AS (SELECT rev / tr AS share FROM g CROSS JOIN tot),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_brands,
                 CAST(sum(CAST((100.0 * share) * (100.0 * share) AS {dec}))
                      AS DOUBLE) AS hhi_raw,
                 CAST(sum(CAST(share * share AS {dec})) AS DOUBLE) AS ss,
                 max(share) AS top
          FROM s)
        SELECT n_brands, {_q('hhi_raw', 4)} AS hhi,
               {_q('1.0 / ss', 4)} AS effective_n,
               {_q('top', 6)} AS top_share
        FROM agg"""


register("hhi_brand_concentration", _q_hhi, _hhi_sql())


def _q_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality with exact between/within-segment decomposition
    (operators/relational.py:theil_index_revenue)."""
    return relational.theil_index_revenue(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


def _theil_sql() -> str:
    from .operators.relational import THEIL_LN_SCALE as LS

    dec = "DECIMAL(38,8)"
    return f"""
        WITH percust AS (
          SELECT o_custkey, {_d('o_totalprice')} AS x, c_mktsegment AS seg
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY o_custkey, c_mktsegment),
        tot AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, {_d38('x')} AS sx
          FROM percust),
        seg AS (
          SELECT seg, CAST(count(*) AS DOUBLE) AS n_g, {_d38('x')} AS sx_g
          FROM percust GROUP BY 1),
        rowt AS (
          SELECT (x / (sx / n)) * {_q('ln(x / (sx / n))', LS)} AS t
          FROM percust CROSS JOIN tot),
        t_total AS (
          SELECT CAST(sum(CAST(t AS {dec})) AS DOUBLE) / max(n) AS t_total
          FROM rowt CROSS JOIN tot),
        segx AS (
          SELECT (sx_g / sx)
                 * {_q('ln((sx_g / sx) / (n_g / n))', LS)} AS tb
          FROM seg CROSS JOIN tot),
        t_between AS (
          SELECT CAST(sum(CAST(tb AS {dec})) AS DOUBLE) AS t_between
          FROM segx),
        roww AS (
          SELECT p.seg,
                 (x / (sx_g / n_g)) * {_q('ln(x / (sx_g / n_g))', LS)} AS t,
                 n_g, sx_g
          FROM percust p JOIN seg USING (seg)),
        tg AS (
          SELECT seg,
                 CAST(sum(CAST(t AS {dec})) AS DOUBLE) / max(n_g) AS t_g,
                 max(sx_g) AS sx_g
          FROM roww GROUP BY 1),
        t_within AS (
          SELECT CAST(sum(CAST((sx_g / sx) * t_g AS {dec})) AS DOUBLE)
                   AS t_within
          FROM tg CROSS JOIN tot),
        n_out AS (SELECT CAST(count(*) AS BIGINT) AS n_customers FROM percust)
        SELECT n_customers,
               {_q('t_total', 6)} AS theil_total,
               {_q('t_between', 6)} AS theil_between,
               {_q('t_within', 6)} AS theil_within
        FROM n_out CROSS JOIN t_total CROSS JOIN t_between CROSS JOIN t_within"""


register("theil_index_revenue", _q_theil, _theil_sql())


def _q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation over customer segments
    (operators/relational.py:neyman_allocation)."""
    return relational.neyman_allocation(load(spark, sf_dir, "customer"))


def _neyman_sql() -> str:
    from .operators.relational import NEYMAN_BUDGET

    dec = "DECIMAL(38,8)"
    sh = (
        "sqrt((sxx - sx * sx / nh) / (nh - 1))"
    )
    return f"""
        WITH g AS (
          SELECT c_mktsegment AS segment, CAST(count(*) AS DOUBLE) AS nh,
                 {_d38('CAST(c_acctbal AS DOUBLE)')} AS sx,
                 {_d38('CAST(c_acctbal AS DOUBLE)'
                       ' * CAST(c_acctbal AS DOUBLE)')} AS sxx
          FROM customer GROUP BY 1),
        scored AS (SELECT segment, nh, {sh} AS sh FROM g),
        tot AS (
          SELECT CAST(sum(CAST(nh * sh AS {dec})) AS DOUBLE) AS d
          FROM scored)
        SELECT segment, CAST(nh AS BIGINT) AS n_population,
               {_q('sh', 6)} AS stratum_sd,
               {_q('nh * sh / d', 6)} AS alloc_share,
               CAST(ceil({float(NEYMAN_BUDGET)} * nh * sh / d) AS BIGINT)
                 AS n_sample
        FROM scored CROSS JOIN tot"""


register("neyman_allocation", _q_neyman, _neyman_sql())


def _q_ab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B per-group sample-size planner at alpha=.05 / power=.80 / 1% MDE
    (operators/relational.py:ab_sample_size)."""
    return relational.ab_sample_size(load(spark, sf_dir, "orders"))


def _ab_size_sql() -> str:
    from .operators.relational import AB_MDE_REL, AB_Z_ALPHA2, AB_Z_BETA

    mu = "(sx / n)"
    var = "((sxx - sx * sx / n) / (n - 1))"
    delta = f"({AB_MDE_REL!r} * {mu})"
    zsum = f"({AB_Z_ALPHA2!r} + {AB_Z_BETA!r})"
    return f"""
        WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(o_totalprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(o_totalprice AS DOUBLE)'
                       ' * CAST(o_totalprice AS DOUBLE)')} AS sxx
          FROM orders)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q(mu, 4)} AS mean_value,
               {_q(f'sqrt({var})', 4)} AS sd_value,
               {_q(delta, 4)} AS mde_abs,
               CAST(ceil(2.0 * {var} * {zsum} * {zsum}
                         / ({delta} * {delta})) AS BIGINT) AS n_per_group
        FROM m"""


register("ab_sample_size", _q_ab_size, _ab_size_sql())


# ===========================================================================
# survival RMST / post-hoc pairs / token subsampling
# ===========================================================================


def _q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at 365 days over the KM curve
    (operators/relational.py:rmst_retention) — composes
    kaplan_meier_retention."""
    return relational.rmst_retention(load(spark, sf_dir, "orders"))


def _rmst_sql() -> str:
    from .operators.relational import RMST_TAU
    from .registry_ext import _km_sql

    km = _km_sql().rstrip()
    assert km.endswith("ORDER BY 1")
    km_body = km[: -len("ORDER BY 1")]
    tau = float(RMST_TAU)
    dec = "DECIMAL(38,8)"
    return f"""
        WITH km AS ({km_body}),
        s AS (
          SELECT t_days, survival,
                 coalesce(lag(t_days) OVER (ORDER BY t_days), 0) AS prev_t,
                 coalesce(lag(survival) OVER (ORDER BY t_days), 1.0)
                   AS prev_s
          FROM km),
        segs AS (
          SELECT {_q(f'prev_s * (least(CAST(t_days AS DOUBLE), {tau})'
                     f' - CAST(prev_t AS DOUBLE))', 6)} AS a
          FROM s WHERE prev_t < {RMST_TAU}),
        area1 AS (
          SELECT CAST(sum(CAST(a AS {dec})) AS DOUBLE) AS area_steps,
                 CAST(count(*) AS BIGINT) AS n_steps
          FROM segs),
        lastrow AS (
          SELECT max(t_days) AS t_last,
                 max_by(survival, t_days) AS s_last,
                 coalesce(max_by(survival, CASE WHEN t_days <= {RMST_TAU}
                                  THEN t_days END), 1.0) AS s_at_tau
          FROM s),
        tail AS (
          SELECT t_last, s_at_tau,
                 CASE WHEN t_last < {RMST_TAU}
                      THEN {_q(f's_last * ({tau} - CAST(t_last AS DOUBLE))', 6)}
                      ELSE 0.0 END AS area_tail
          FROM lastrow)
        SELECT CAST({RMST_TAU} AS INT) AS tau_days, n_steps,
               {_q('area_steps + area_tail', 4)} AS rmst_days,
               {_q('s_at_tau', 6)} AS survival_at_tau
        FROM area1 CROSS JOIN tail"""


register("rmst_retention", _q_rmst, _rmst_sql())


def _q_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD pairwise q statistics over the five priorities
    (operators/relational.py:tukey_hsd_priority)."""
    return relational.tukey_hsd_priority(load(spark, sf_dir, "orders"))


def _tukey_sql() -> str:
    from .operators.relational import TUKEY_Q_CRIT

    dec = "DECIMAL(38,8)"
    q = (
        "abs(ma - mb) / sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb))"
    )
    return f"""
        WITH g AS (
          SELECT o_orderpriority AS grp, CAST(count(*) AS DOUBLE) AS ng,
                 {_d38('CAST(o_totalprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(o_totalprice AS DOUBLE)'
                       ' * CAST(o_totalprice AS DOUBLE)')} AS sxx
          FROM orders GROUP BY 1),
        msw AS (
          SELECT CAST(sum(CAST(sxx - sx * sx / ng AS {dec})) AS DOUBLE)
                 / (CAST(sum(CAST(ng AS {dec})) AS DOUBLE)
                    - CAST(count(*) AS DOUBLE)) AS msw
          FROM g),
        pairs AS (
          SELECT a.grp AS group_a, b.grp AS group_b,
                 a.ng AS na, b.ng AS nb,
                 a.sx / a.ng AS ma, b.sx / b.ng AS mb, msw
          FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN msw)
        SELECT group_a, group_b,
               {_q('ma - mb', 4)} AS mean_diff,
               {_q(q, 4)} AS q_stat,
               CAST(CASE WHEN {_q(q, 4)} > {TUKEY_Q_CRIT} THEN 1 ELSE 0 END
                    AS INT) AS significant
        FROM pairs"""


register("tukey_hsd_priority", _q_tukey, _tukey_sql())


def _q_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec frequent-token subsampling summary
    (operators/corpus.py:frequent_token_subsample): md5-lane keep draws,
    per-term keep probability min(1, sqrt(t/f) + t/f)."""
    from .operators import corpus as _c

    return _c.frequent_token_subsample(load(spark, sf_dir, "documents"))


def _subsample_sql() -> str:
    from .operators.corpus import SUBSAMPLE_T
    from .registry_ops import _sql_md5_prefix_value

    key = "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)"
    u = f"(CAST({_sql_md5_prefix_value(key, 8)} AS DOUBLE) / 4294967296.0)"
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(range(0, len(string_split(text, ' ')))) AS pos,
                 unnest(string_split(text, ' ')) AS term
          FROM documents),
        tf AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nt FROM tf),
        rates AS (
          SELECT term,
                 least(1.0, sqrt({SUBSAMPLE_T!r} * nt / c)
                            + {SUBSAMPLE_T!r} * nt / c) AS p_keep
          FROM tf CROSS JOIN tot),
        kept AS (
          SELECT t.term, {u} < p_keep AS keep
          FROM toks t JOIN rates USING (term))
        SELECT CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               {_q('CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)'
                   ' / count(*)', 6)} AS kept_rate,
               CAST(count(DISTINCT term) AS BIGINT) AS vocab_before,
               CAST(count(DISTINCT CASE WHEN keep THEN term END) AS BIGINT)
                 AS vocab_after
        FROM kept"""


register("frequent_token_subsample", _q_subsample, _subsample_sql())


# ===========================================================================
# Holt-Winters triple smoothing (seasonal forecasting completion)
# ===========================================================================


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing of per-segment daily
    revenue (operators/relational.py:holt_winters_forecast): sequential
    state via applyInPandas, 1e-6 state quanta; DuckDB twin replays the
    trajectory with the 7-slot seasonal ring as recursion columns."""
    return relational.holt_winters_forecast(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


def _holt_winters_sql() -> str:
    from .operators.relational import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_HORIZONS,
        HW_PERIOD,
    )

    m = HW_PERIOD
    a, ca = repr(HW_ALPHA), repr(1.0 - HW_ALPHA)
    b_, cb = repr(HW_BETA), repr(1.0 - HW_BETA)
    g_, cg = repr(HW_GAMMA), repr(1.0 - HW_GAMMA)

    def chain(lo: int, hi: int) -> str:  # ordered left-fold (x{lo}+...+x{hi})
        expr = f"x{lo}"
        for k in range(lo + 1, hi + 1):
            expr = f"({expr} + x{k})"
        return expr

    piv_cols = ",\n                 ".join(
        f"max(CASE WHEN i = {k} THEN x END) AS x{k}" for k in range(1, 2 * m + 1)
    )
    w1, w2 = chain(1, m), chain(m + 1, 2 * m)
    l_init = _q(f"({w1}) / {float(m)}", 6)
    b_init = _q(f"(({w2}) - ({w1})) / {float(m * m)}", 6)
    s_init = ",\n                 ".join(
        _q(f"x{k + 1} - ({l_init})", 6) + f" AS s{k}" for k in range(m)
    )
    s_pick = (
        "CASE r.i % 7 "
        + " ".join(f"WHEN {j} THEN r.s{j}" for j in range(m))
        + " END"
    )
    l_new = _q(f"{a} * (xx.x - ({s_pick})) + {ca} * (r.l + r.b)", 6)
    b_new = _q(f"{b_} * (({l_new}) - r.l) + {cb} * r.b", 6)
    s_cols = ",\n                 ".join(
        f"CASE WHEN r.i % 7 = {j} THEN "
        + _q(f"{g_} * (xx.x - ({l_new})) + {cg} * r.s{j}", 6)
        + f" ELSE r.s{j} END AS s{j}"
        for j in range(m)
    )
    fcasts = []
    joiner = ",\n               "
    for h in HW_HORIZONS:
        slot = (
            f"CASE (nn.n_days - 1 + {h}) % 7 "
            + " ".join(f"WHEN {j} THEN rec.s{j}" for j in range(m))
            + " END"
        )
        fcasts.append(
            _q(f"rec.l + {float(h)} * rec.b + ({slot})", 6)
            + f" AS forecast_{h}"
        )
    return f"""
        WITH RECURSIVE
        daily AS (
          SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} AS x
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        idx AS (
          SELECT segment, x,
                 row_number() OVER (PARTITION BY segment ORDER BY day) AS i
          FROM daily),
        nn AS (SELECT segment, CAST(max(i) AS BIGINT) AS n_days
               FROM idx GROUP BY 1),
        piv AS (
          SELECT segment,
                 {piv_cols}
          FROM idx WHERE i <= {2 * m} GROUP BY 1),
        init AS (
          SELECT segment,
                 {l_init} AS l,
                 {b_init} AS b,
                 {s_init}
          FROM piv),
        rec AS (
          SELECT segment, CAST({m} AS BIGINT) AS i, l, b,
                 {', '.join(f's{j}' for j in range(m))}
          FROM init
          UNION ALL
          SELECT r.segment, r.i + 1,
                 {l_new} AS l,
                 {b_new} AS b,
                 {s_cols}
          FROM rec r JOIN idx xx ON xx.segment = r.segment AND xx.i = r.i + 1)
        SELECT rec.segment, nn.n_days, rec.l AS level, rec.b AS trend,
               {joiner.join(fcasts)}
        FROM rec JOIN nn ON rec.segment = nn.segment AND rec.i = nn.n_days
        ORDER BY rec.segment"""


register("holt_winters_forecast", _q_holt_winters, _holt_winters_sql())


# ===========================================================================
# decomposition / inequality curve / causality
# ===========================================================================


def _q_oaxaca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the 1996->1997 mean line-price gap
    (operators/relational.py:oaxaca_price_gap): one conditional-moment
    aggregate, two closed-form fits, exact identity."""
    return relational.oaxaca_price_gap(load(spark, sf_dir, "lineitem"))


def _oaxaca_sql() -> str:
    def side(tag: str, pred: str) -> str:
        cols = [
            f"CAST(count(CASE WHEN {pred} THEN 1 END) AS DOUBLE) AS n_{tag}"
        ]
        for nm, e in (
            ("s1", "x1"), ("s2", "x2"), ("sy", "y"),
            ("s11", "x1 * x1"), ("s22", "x2 * x2"), ("s12", "x1 * x2"),
            ("s1y", "x1 * y"), ("s2y", "x2 * y"),
        ):
            cols.append(
                _d38(f"CASE WHEN {pred} THEN {e} END") + f" AS {nm}_{tag}"
            )
        return ",\n                 ".join(cols)

    def fit(tag: str) -> dict:
        n = f"n_{tag}"
        c11 = f"(s11_{tag} - s1_{tag} * s1_{tag} / {n})"
        c22 = f"(s22_{tag} - s2_{tag} * s2_{tag} / {n})"
        c12 = f"(s12_{tag} - s1_{tag} * s2_{tag} / {n})"
        c1y = f"(s1y_{tag} - s1_{tag} * sy_{tag} / {n})"
        c2y = f"(s2y_{tag} - s2_{tag} * sy_{tag} / {n})"
        det = f"({c11} * {c22} - {c12} * {c12})"
        b1 = f"(({c22} * {c1y} - {c12} * {c2y}) / {det})"
        b2 = f"(({c11} * {c2y} - {c12} * {c1y}) / {det})"
        m1, m2, my = f"(s1_{tag} / {n})", f"(s2_{tag} / {n})", f"(sy_{tag} / {n})"
        b0 = f"({my} - {b1} * {m1} - {b2} * {m2})"
        return dict(b0=b0, b1=b1, b2=b2, m1=m1, m2=m2, my=my)

    A, B = fit("a"), fit("b")
    gap = f"({B['my']} - {A['my']})"
    endow = (
        f"(({B['m1']} - {A['m1']}) * {A['b1']}"
        f" + ({B['m2']} - {A['m2']}) * {A['b2']})"
    )
    coeff = (
        f"(({B['b0']} - {A['b0']})"
        f" + {B['m1']} * ({B['b1']} - {A['b1']})"
        f" + {B['m2']} * ({B['b2']} - {A['b2']}))"
    )
    return f"""
        WITH base AS (
          SELECT year(l_shipdate) = 1996 AS is_a,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)),
        m AS (
          SELECT {side('a', 'is_a')},
                 {side('b', 'NOT is_a')}
          FROM base)
        SELECT CAST(n_a AS BIGINT) AS n_1996, CAST(n_b AS BIGINT) AS n_1997,
               {_q(gap, 4)} AS mean_gap,
               {_q(endow, 4)} AS endowment_effect,
               {_q(coeff, 4)} AS coefficient_effect,
               {_q(f'{gap} - {endow} - {coeff}', 6)} AS identity_residual
        FROM m"""


register("oaxaca_price_gap", _q_oaxaca, _oaxaca_sql())


def _q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at customer deciles
    (operators/relational.py:lorenz_curve_deciles): the bucketed prefix
    (relational.bucketed_prefix's algorithm) with exact pro-rata boundary
    splits."""
    return relational.lorenz_curve_deciles(load(spark, sf_dir, "orders"))


def _lorenz_sql() -> str:
    from .operators.relational import (
        GINI_BUCKET_WIDTH,
        GINI_REV_SCALE,
        LORENZ_DECILES,
    )

    dec = "DECIMAL(38,8)"
    picks = ["CAST(max(nc) AS BIGINT) AS n_customers"]
    for d in range(1, LORENZ_DECILES + 1):
        k = f"((nc * {d}) // {LORENZ_DECILES})"
        full_below = f"max(CASE WHEN cumc <= {k} THEN cumx END)"
        boundary = (
            f"max(CASE WHEN cumc - c < {k} AND cumc > {k}"
            f" THEN CAST({k} - (cumc - c) AS DOUBLE) * x END)"
        )
        picks.append(
            _q(
                f"(coalesce({full_below}, 0.0) + coalesce({boundary}, 0.0))"
                " / max(tx)",
                6,
            )
            + f" AS share_p{d * 10}"
        )
    return f"""
        WITH percust AS (
          SELECT o_custkey,
                 {_d('o_totalprice')} / {GINI_REV_SCALE} AS x
          FROM orders GROUP BY 1),
        vals AS (
          SELECT x, count(*) AS c,
                 floor(x / {GINI_BUCKET_WIDTH / GINI_REV_SCALE!r}) AS bucket
          FROM percust GROUP BY 1),
        buckets AS (
          SELECT bucket, sum(c) AS bc,
                 CAST(sum(CAST(x * c AS {dec})) AS DOUBLE) AS bx
          FROM vals GROUP BY 1),
        offsets AS (
          SELECT b.bucket,
                 coalesce(sum(p.bc), 0) AS offc,
                 coalesce(CAST(sum(CAST(p.bx AS {dec})) AS DOUBLE), 0.0)
                   AS offx
          FROM buckets b LEFT JOIN buckets p ON p.bucket < b.bucket
          GROUP BY b.bucket),
        tot AS (
          SELECT sum(c) AS nc,
                 CAST(sum(CAST(x * c AS {dec})) AS DOUBLE) AS tx
          FROM vals),
        ranked AS (
          SELECT v.x, v.c, t.nc, t.tx,
                 o.offc + sum(v.c) OVER w AS cumc,
                 o.offx + CAST(sum(CAST(v.x * v.c AS {dec})) OVER w
                               AS DOUBLE) AS cumx
          FROM vals v JOIN offsets o ON v.bucket = o.bucket
          CROSS JOIN tot t
          WINDOW w AS (PARTITION BY v.bucket ORDER BY v.x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT {', '.join(picks)}
        FROM ranked"""


register("lorenz_curve_deciles", _q_lorenz, _lorenz_sql())


def _q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality of order counts on revenue
    (operators/relational.py:granger_causality_daily)."""
    return relational.granger_causality_daily(load(spark, sf_dir, "orders"))


def _granger_sql() -> str:
    from .operators.relational import ACF_REV_SCALE

    c11 = "(s11 - s1 * s1 / n)"
    c22 = "(s22 - s2 * s2 / n)"
    c12 = "(s12 - s1 * s2 / n)"
    c1y = "(s1y - s1 * sy / n)"
    c2y = "(s2y - s2 * sy / n)"
    cyy = "(syy - sy * sy / n)"
    det = f"({c11} * {c22} - {c12} * {c12})"
    b1 = f"(({c22} * {c1y} - {c12} * {c2y}) / {det})"
    b2 = f"(({c11} * {c2y} - {c12} * {c1y}) / {det})"
    sse_r = f"({cyy} - {c1y} * {c1y} / {c11})"
    sse_u = f"({cyy} - {b1} * {c1y} - {b2} * {c2y})"
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} / {ACF_REV_SCALE} AS y,
                 CAST(count(*) AS DOUBLE) AS x
          FROM orders GROUP BY 1),
        rows_ AS (
          SELECT y, lag(y, 1) OVER (ORDER BY day) AS yl,
                 lag(x, 1) OVER (ORDER BY day) AS xl
          FROM daily),
        m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('y')} AS sy, {_d38('yl')} AS s1, {_d38('xl')} AS s2,
                 {_d38('yl * yl')} AS s11, {_d38('xl * xl')} AS s22,
                 {_d38('yl * xl')} AS s12, {_d38('yl * y')} AS s1y,
                 {_d38('xl * y')} AS s2y, {_d38('y * y')} AS syy
          FROM rows_ WHERE yl IS NOT NULL)
        SELECT CAST(n AS BIGINT) AS n_days,
               {_q(b2, 6)} AS beta_lag_count,
               {_q(f'({sse_r} - {sse_u}) / ({sse_u} / (n - 3.0))', 4)}
                 AS f_stat,
               {_q(f'({sse_r} - {sse_u}) / {sse_r}', 9)} AS sse_drop_share
        FROM m"""


register("granger_causality_daily", _q_granger, _granger_sql())


def _q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality A2 over order values
    (operators/relational.py:anderson_darling_price): single-pass
    algebraic form with exact tie weight sums over the bucketed ranks,
    A&S normal CDF."""
    return relational.anderson_darling_price(load(spark, sf_dir, "orders"))


def _anderson_darling_sql() -> str:
    from .operators.relational import AD_LN_FLOOR, sql_norm_sf

    phi = (
        f"(CASE WHEN z >= 0 THEN 1.0 - {sql_norm_sf('z')}"
        f" ELSE {sql_norm_sf('-z')} END)"
    )
    term_expr = (
        f"(c * (2.0 * cum_lt + c)"
        f" * ln(greatest({phi}, {AD_LN_FLOOR!r}))"
        f" + c * (2.0 * (n - cum_lt) - c)"
        f" * ln(greatest(1.0 - {phi}, {AD_LN_FLOOR!r}))) / n"
    )
    return f"""
        WITH mom AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(o_totalprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(o_totalprice AS DOUBLE)'
                       ' * CAST(o_totalprice AS DOUBLE)')} AS sxx
          FROM orders),
        mom2 AS (
          SELECT n, sx / n AS mu,
                 sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
          FROM mom),
        vals AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS c
          FROM orders GROUP BY 1),
        ranked AS (
          SELECT v, c,
                 coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS cum_lt
          FROM vals),
        scored AS (
          SELECT (v - mu) / sd AS z, CAST(c AS DOUBLE) AS c,
                 CAST(cum_lt AS DOUBLE) AS cum_lt, n
          FROM ranked CROSS JOIN mom2),
        terms AS (
          SELECT n, {_q(term_expr, 4)} AS term
          FROM scored),
        agg AS (
          SELECT max(n) AS n,
                 CAST(sum(CAST(term AS DECIMAL(38,8))) AS DOUBLE) AS s
          FROM terms)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q('-n - s', 4)} AS a2_stat,
               {_q('(-n - s) * (1.0 + 0.75 / n + 2.25 / (n * n))', 4)}
                 AS a2_star,
               CAST(CASE WHEN {_q('(-n - s) * (1.0 + 0.75 / n'
                                  ' + 2.25 / (n * n))', 4)} > 0.787
                         THEN 1 ELSE 0 END AS INT) AS reject_normal_05
        FROM agg"""


register("anderson_darling_price", _q_anderson_darling, _anderson_darling_sql())


# ===========================================================================
# boosting / KS normality / Poisson rate test
# ===========================================================================


def _q_adaboost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round AdaBoost over histogram stumps with EXACT integer
    reweighting (operators/corpus.py:adaboost_two_stumps): round-2
    weights are the integers (m, n-m) since e^{2*alpha} = (1-eps)/eps is
    rational; alphas are the only logs and enter only the quantized
    final vote."""
    from .operators import corpus as _c

    return _c.adaboost_two_stumps(load(spark, sf_dir, "documents"))


def _adaboost_sql() -> str:
    from .operators.corpus import STUMP_GRID, STUMP_LABEL_LANG

    g = STUMP_GRID

    def q2(e):  # feature grid quantization
        return _q(e, g)

    feat_defs = f"""
          SELECT CASE WHEN lang = '{STUMP_LABEL_LANG}' THEN 1 ELSE 0 END AS y,
                 {q2("len(string_split(text, ' ')) / 100.0")} AS f1,
                 {q2('n_chars / 1000.0')} AS f2,
                 {q2("CAST(len(list_distinct(string_split(text, ' ')))"
                     " AS DOUBLE) / len(string_split(text, ' '))")} AS f3
          FROM documents"""

    def stump_ctes(p: str, rows: str, w: str) -> str:
        """CTE chain picking the weighted stump from `rows` (must expose
        y, f1..f3 and the weight expr w)."""
        return f"""
        {p}long AS (
          SELECT u.feature, CASE u.feature WHEN 'f1' THEN f1
                 WHEN 'f2' THEN f2 ELSE f3 END AS bin, y, {w} AS w
          FROM {rows} CROSS JOIN (SELECT unnest(['f1','f2','f3']) AS feature) u),
        {p}hist AS (
          SELECT feature, bin,
                 sum(CAST(w AS DECIMAL(38,0))) AS n,
                 sum(CAST(w * y AS DECIMAL(38,0))) AS pos
          FROM {p}long WHERE bin IS NOT NULL GROUP BY 1, 2),
        {p}cand AS (
          SELECT feature, bin,
                 sum(n) OVER (PARTITION BY feature ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
                 sum(pos) OVER (PARTITION BY feature ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
                 sum(n) OVER (PARTITION BY feature) AS nt,
                 sum(pos) OVER (PARTITION BY feature) AS pt
          FROM {p}hist),
        {p}scored AS (
          SELECT feature, bin, nl, pl, nt, pt,
                 {_q('(CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))'
                     ' * (1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))'
                     '   * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))'
                     '   - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))'
                     '   * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))'
                     ' + (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))'
                     ' * (1.0 - (CAST(pt - pl AS DOUBLE)'
                     '       / CAST(nt - nl AS DOUBLE))'
                     '   * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))'
                     '   - (CAST((nt - nl) - (pt - pl) AS DOUBLE)'
                     '       / CAST(nt - nl AS DOUBLE))'
                     '   * (CAST((nt - nl) - (pt - pl) AS DOUBLE)'
                     '       / CAST(nt - nl AS DOUBLE)))', 6)} AS gini
          FROM {p}cand WHERE nl < nt),
        {p}pick AS (
          SELECT feature, bin AS threshold,
                 CAST(2 * pl >= nl AS INT) AS pred_left,
                 CAST(2 * (pt - pl) >= (nt - nl) AS INT) AS pred_right
          FROM {p}scored
          ORDER BY gini, feature, bin LIMIT 1)"""

    h = lambda p: (  # noqa: E731 — stump p's prediction for the row
        f"(CASE WHEN (CASE {p}.feature WHEN 'f1' THEN f1 WHEN 'f2' THEN f2"
        f" ELSE f3 END) <= {p}.threshold THEN {p}.pred_left"
        f" ELSE {p}.pred_right END)"
    )
    a1 = _q("0.5 * ln((CAST(n AS DOUBLE) - CAST(m AS DOUBLE))"
            " / CAST(m AS DOUBLE))", 6)
    a2 = _q("0.5 * ln((1.0 - CAST(w2_wrong AS DOUBLE) / CAST(w2_tot AS DOUBLE))"
            " / (CAST(w2_wrong AS DOUBLE) / CAST(w2_tot AS DOUBLE)))", 6)
    vote = lambda h1, h2: (  # noqa: E731
        f"(CASE WHEN ({a1}) * {float(2 * h1 - 1)}"
        f" + ({a2}) * {float(2 * h2 - 1)} >= 0 THEN 1 ELSE 0 END)"
    )
    ens = " + ".join(
        f"(CASE WHEN {vote(h1, h2)} = 1 THEN b{h1}{h2}1 ELSE b{h1}{h2}0 END)"
        for h1 in (1, 0)
        for h2 in (1, 0)
    )
    bucket_cols = ",\n                 ".join(
        f"sum(CASE WHEN h1v = {h1} AND h2v = {h2} AND y = {y} THEN 1"
        f" ELSE 0 END) AS b{h1}{h2}{y}"
        for h1 in (1, 0)
        for h2 in (1, 0)
        for y in (1, 0)
    )
    return f"""
        WITH base AS ({feat_defs}),
        {stump_ctes('s1', 'base', '1')},
        scored1 AS (
          SELECT base.*, CASE WHEN {h('s1pick')} = y THEN 1 ELSE 0 END
                   AS correct1
          FROM base CROSS JOIN s1pick),
        err1 AS (
          SELECT count(*) AS n, sum(1 - correct1) AS m FROM scored1),
        w2f AS (
          SELECT scored1.*, CASE WHEN correct1 = 1 THEN m ELSE n - m END
                   AS w2, n, m
          FROM scored1 CROSS JOIN err1),
        {stump_ctes('s2', 'w2f', 'w2')},
        voted AS (
          SELECT w2f.*, {h('s2pick')} AS h2v,
                 CASE WHEN correct1 = 1
                      THEN (CASE WHEN y = 1 THEN 1 ELSE 0 END)
                      ELSE (CASE WHEN y = 1 THEN 0 ELSE 1 END) END AS h1v,
                 s2pick.feature AS s2_feature,
                 s2pick.threshold AS s2_threshold
          FROM w2f CROSS JOIN s2pick),
        agg AS (
          SELECT max(n) AS n, max(m) AS m,
                 max(s2_feature) AS r2_feature,
                 max(s2_threshold) AS r2_threshold,
                 sum(CASE WHEN h2v <> y THEN w2 ELSE 0 END) AS w2_wrong,
                 sum(w2) AS w2_tot,
                 sum(correct1) AS c1,
                 {bucket_cols}
          FROM voted)
        SELECT CAST(n AS BIGINT) AS n_docs,
               (SELECT feature FROM s1pick) AS r1_feature,
               {_q('(SELECT threshold FROM s1pick)', 2)} AS r1_threshold,
               {_q('CAST(m AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS r1_error,
               {a1} AS alpha1,
               r2_feature,
               {_q('r2_threshold', 2)} AS r2_threshold,
               {_q('CAST(w2_wrong AS DOUBLE) / CAST(w2_tot AS DOUBLE)', 6)}
                 AS r2_error,
               {a2} AS alpha2,
               {_q('CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)', 6)}
                 AS train_acc_round1,
               {_q(f'CAST({ens} AS DOUBLE) / CAST(n AS DOUBLE)', 6)}
                 AS train_acc_ensemble
        FROM agg"""


register("adaboost_two_stumps", _q_adaboost, _adaboost_sql())


def _q_ks_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS/Lilliefors normality of order values vs the fitted
    normal (operators/relational.py:ks_normality_price): both EDF sides,
    bucketed ranks, A&S CDF."""
    return relational.ks_normality_price(load(spark, sf_dir, "orders"))


def _ks_normality_sql() -> str:
    from .operators.relational import sql_norm_sf

    phi = (
        f"(CASE WHEN z >= 0 THEN 1.0 - {sql_norm_sf('z')}"
        f" ELSE {sql_norm_sf('-z')} END)"
    )
    return f"""
        WITH mom AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 {_d38('CAST(o_totalprice AS DOUBLE)')} AS sx,
                 {_d38('CAST(o_totalprice AS DOUBLE)'
                       ' * CAST(o_totalprice AS DOUBLE)')} AS sxx
          FROM orders),
        mom2 AS (
          SELECT n, sx / n AS mu,
                 sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
          FROM mom),
        vals AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS c
          FROM orders GROUP BY 1),
        ranked AS (
          SELECT v, c,
                 sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
          FROM vals),
        scored AS (
          SELECT (v - mu) / sd AS z, CAST(cum AS DOUBLE) AS cum,
                 CAST(c AS DOUBLE) AS c, n
          FROM ranked CROSS JOIN mom2),
        agg AS (
          SELECT max(n) AS n,
                 max(greatest(abs(cum / n - {phi}),
                              abs((cum - c) / n - {phi}))) AS d
          FROM scored)
        SELECT CAST(n AS BIGINT) AS n_rows,
               {_q('d', 6)} AS d_stat,
               {_q('sqrt(n) * d', 4)} AS sqrt_n_d,
               CAST(CASE WHEN {_q('d', 6)} > {_q('0.886 / sqrt(n)', 6)}
                         THEN 1 ELSE 0 END AS INT) AS reject_normal_05
        FROM agg"""


register("ks_normality_price", _q_ks_normality, _ks_normality_sql())


def _q_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period Poisson rate test for error events
    (operators/events.py:event_rate_test): week 1 vs the rest of the
    observed span; one conditional aggregate."""
    from .operators import events as _e

    return _e.event_rate_test(load(spark, sf_dir, "events"))


def _event_rate_sql() -> str:
    from .operators.events import RATE_TEST_EVENT, RATE_TEST_SPLIT

    return f"""
        WITH span AS (
          SELECT CAST(datediff('day', CAST(min(ts) AS DATE),
                               DATE '{RATE_TEST_SPLIT}') AS DOUBLE) AS t1,
                 CAST(datediff('day', DATE '{RATE_TEST_SPLIT}',
                               CAST(max(ts) AS DATE)) + 1 AS DOUBLE) AS t2
          FROM events),
        g AS (
          SELECT CAST(count(CASE WHEN CAST(ts AS DATE)
                              < DATE '{RATE_TEST_SPLIT}' THEN 1 END)
                      AS DOUBLE) AS n1,
                 CAST(count(CASE WHEN CAST(ts AS DATE)
                              >= DATE '{RATE_TEST_SPLIT}' THEN 1 END)
                      AS DOUBLE) AS n2
          FROM events WHERE event_type = '{RATE_TEST_EVENT}')
        SELECT CAST(n1 AS BIGINT) AS n_events_pre,
               CAST(n2 AS BIGINT) AS n_events_post,
               CAST(t1 AS INT) AS days_pre,
               CAST(t2 AS INT) AS days_post,
               {_q('n1 / t1', 6)} AS rate_pre,
               {_q('n2 / t2', 6)} AS rate_post,
               {_q('(n2 / t2) / (n1 / t1)', 6)} AS rate_ratio,
               {_q('(n1 / t1 - n2 / t2) / sqrt(n1 / (t1 * t1)'
                   ' + n2 / (t2 * t2))', 6)} AS z_score
        FROM g CROSS JOIN span"""


register("event_rate_test", _q_event_rate, _event_rate_sql())


# ===========================================================================
# categorical association / corpus composition
# ===========================================================================


def _q_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over three categorical pairs
    (operators/profiling.py:cramers_v_pairs)."""
    from .operators import profiling as _p

    return _p.cramers_v_pairs(load(spark, sf_dir, "lineitem"))


def _cramers_sql() -> str:
    from .operators.profiling import CRAMERS_PAIRS

    dec = "DECIMAL(38,8)"
    parts = []
    for a, b in CRAMERS_PAIRS:
        parts.append(f"""
        SELECT col_a, col_b, n_rows, {_q('chi2r', 4)} AS chi2,
               CASE WHEN least(ra, rb) > 1 THEN
                 {_q('sqrt(chi2r / (CAST(n_rows AS DOUBLE)'
                     ' * (CAST(least(ra, rb) AS DOUBLE) - 1.0)))', 6)}
               END AS cramers_v
        FROM (
          SELECT '{a}' AS col_a, '{b}' AS col_b,
                 CAST(max(nn) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(term AS {dec})) AS DOUBLE) AS chi2r,
                 max(ra) AS ra, max(rb) AS rb
          FROM (
            SELECT c, nn, ra, rb,
                   {_q('(CAST(c AS DOUBLE) - CAST(ca AS DOUBLE)'
                       ' * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))'
                       ' * (CAST(c AS DOUBLE) - CAST(ca AS DOUBLE)'
                       ' * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))'
                       ' / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)'
                       ' / CAST(nn AS DOUBLE))', 6)} AS term
            FROM (
              SELECT coalesce(j0.c, 0) AS c, ma.ca, mb.cb,
                     sum(coalesce(j0.c, 0)) OVER () AS nn,
                     count(DISTINCT ma.va) OVER () AS ra,
                     count(DISTINCT mb.vb) OVER () AS rb
              FROM (SELECT va, sum(c) AS ca FROM
                      (SELECT {a} AS va, {b} AS vb, count(*) AS c
                       FROM base GROUP BY 1, 2) x GROUP BY 1) ma
              CROSS JOIN (SELECT vb, sum(c) AS cb FROM
                      (SELECT {a} AS va, {b} AS vb, count(*) AS c
                       FROM base GROUP BY 1, 2) y GROUP BY 1) mb
              LEFT JOIN (SELECT {a} AS va, {b} AS vb, count(*) AS c
                         FROM base GROUP BY 1, 2) j0
                ON j0.va = ma.va AND j0.vb = mb.vb
            ) j1
          ) j2
        ) j3""")
    un = "\n        UNION ALL".join(parts)
    return f"""
        WITH base AS (
          SELECT l_returnflag, l_linestatus,
                 CASE WHEN CAST(l_tax AS DOUBLE) < 0.03 THEN 'low'
                      WHEN CAST(l_tax AS DOUBLE) < 0.06 THEN 'mid'
                      ELSE 'high' END AS l_tax_band
          FROM lineitem)
        {un}"""


register("cramers_v_pairs", _q_cramers, _cramers_sql())


def _q_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity + inverse-Simpson effective source count of the
    corpus source mix (operators/profiling.py:simpson_diversity_sources)."""
    from .operators import profiling as _p

    return _p.simpson_diversity_sources(load(spark, sf_dir, "documents"))


def _simpson_sql() -> str:
    dec = "DECIMAL(38,8)"
    return f"""
        WITH g AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nn FROM g),
        s AS (SELECT CAST(c AS DOUBLE) / nn AS p, nn FROM g CROSS JOIN tot),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_sources,
                 CAST(max(nn) AS BIGINT) AS n_docs,
                 CAST(sum(CAST(p * p AS {dec})) AS DOUBLE) AS ss
          FROM s)
        SELECT n_sources, n_docs,
               {_q('1.0 - ss', 6)} AS simpson_d,
               {_q('1.0 / ss', 4)} AS inverse_simpson
        FROM agg"""


register("simpson_diversity_sources", _q_simpson, _simpson_sql())


# ===========================================================================
# round-10: Ljung–Box whiteness, Friedman blocked ranks, CMH stratified 2x2
# ===========================================================================


def _q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test on daily revenue, running
    Q(k) per lag 1..7 (operators/relational.py:ljung_box_daily) — the
    forecast-residual gate next to autocorr_daily_revenue."""
    return relational.ljung_box_daily(load(spark, sf_dir, "orders"))


def _ljung_box_sql() -> str:
    m = relational.LB_MAX_LAG
    lags = ", ".join(
        f"lag(dv, {j}) OVER (ORDER BY day) AS l{j}" for j in range(1, m + 1)
    )
    nums = ", ".join(f"{_d(f'dv * l{j}')} AS num{j}" for j in range(1, m + 1))
    rs = ", ".join(
        f"CASE WHEN den <> 0.0 THEN {_q(f'num{j} / den', 6)} END AS r{j}"
        for j in range(1, m + 1)
    )

    def q_expr(k: int) -> str:
        terms = " + ".join(
            f"(num{j} / den) * (num{j} / den) / (nd - {j}.0)"
            for j in range(1, k + 1)
        )
        return f"nd * (nd + 2.0) * ({terms})"

    qs = ", ".join(
        f"CASE WHEN den <> 0.0 THEN {_q(q_expr(k), 6)} END AS q{k}"
        for k in range(1, m + 1)
    )
    acase = "CASE l.lag " + " ".join(
        f"WHEN {j} THEN r{j}" for j in range(1, m + 1)
    ) + " END"
    qcase = "CASE l.lag " + " ".join(
        f"WHEN {j} THEN q{j}" for j in range(1, m + 1)
    ) + " END"
    vals = ", ".join(f"({j})" for j in range(1, m + 1))
    return f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 {_d('o_totalprice')} / {relational.ACF_REV_SCALE} AS x
          FROM orders GROUP BY 1),
        m AS (SELECT {_d('x')} / CAST(count(*) AS DOUBLE) AS mu FROM daily),
        dev AS (SELECT day, x - mu AS dv FROM daily CROSS JOIN m),
        lagd AS (SELECT dv, {lags} FROM dev),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                       CAST(count(*) AS DOUBLE) AS nd,
                       {_d('dv * dv')} AS den, {nums}
                FROM lagd),
        scored AS (SELECT n_days, {rs}, {qs} FROM agg)
        SELECT CAST(l.lag AS INT) AS lag, {acase} AS acf, {qcase} AS q_stat,
               n_days
        FROM scored CROSS JOIN (VALUES {vals}) l(lag)
        ORDER BY 1"""


register("ljung_box_daily", _q_ljung_box, _ljung_box_sql())


def _q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across the five order priorities with calendar
    months as blocks (operators/relational.py:friedman_test_priority) —
    the randomized-block companion to kruskal_wallis_priority."""
    return relational.friedman_test_priority(load(spark, sf_dir, "orders"))


def _friedman_sql() -> str:
    k = relational.FRIEDMAN_K
    kf, k1 = f"{float(k)}", f"{float(k + 1)}"
    mean = _q(f"{_d('o_totalprice')} / CAST(count(*) AS DOUBLE)", 6)
    return f"""
        WITH cell AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
                 o_orderpriority, {mean} AS mval
          FROM orders GROUP BY 1, 2),
        full_b AS (
          SELECT mth, o_orderpriority, mval FROM (
            SELECT mth, o_orderpriority, mval,
                   count(*) OVER (PARTITION BY mth) AS kk
            FROM cell) WHERE kk = {k}),
        ranked AS (
          SELECT o_orderpriority,
                 CAST(rank() OVER (PARTITION BY mth ORDER BY mval) AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY mth, mval) AS DOUBLE)
                    - 1.0) / 2.0 AS ar
          FROM full_b),
        per AS (
          SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS nb,
                 {_d('ar')} AS rsum
          FROM ranked GROUP BY 1),
        tot AS (SELECT {_d('rsum * rsum')} AS ss, max(nb) AS nb FROM per),
        stat AS (
          SELECT {_q(f'12.0 / (nb * {kf} * {k1}) * ss - 3.0 * nb * {k1}', 6)}
                   AS q_stat,
                 CAST(nb AS BIGINT) AS n_blocks
          FROM tot)
        SELECT o_orderpriority, n_blocks,
               {_q('rsum', 6)} AS rank_sum,
               {_q('rsum / nb', 6)} AS mean_rank,
               q_stat, CAST({k - 1} AS INT) AS df
        FROM per CROSS JOIN stat
        ORDER BY 1"""


register("friedman_test_priority", _q_friedman, _friedman_sql())


def _q_cmh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 association (deep discount
    × returned, strata = ship year) + MH common odds ratio
    (operators/relational.py:cmh_discount_returns)."""
    return relational.cmh_discount_returns(load(spark, sf_dir, "lineitem"))


def _cmh_sql() -> str:
    cut = relational.CMH_DISCOUNT_CUT
    g = "greatest(0.0, abs(CAST(sum_exposed_returns AS DOUBLE) - se) - 0.5)"
    return f"""
        WITH s AS (
          SELECT year(l_shipdate) AS stratum,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(count(CASE WHEN l_discount > {cut} THEN 1 END)
                      AS DOUBLE) AS n1,
                 CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END)
                      AS DOUBLE) AS m1,
                 CAST(count(CASE WHEN l_discount > {cut}
                                  AND l_returnflag = 'R' THEN 1 END)
                      AS DOUBLE) AS a
          FROM lineitem GROUP BY 1
          HAVING CAST(count(*) AS DOUBLE) > 1.0),
        per AS (
          SELECT a,
                 n1 * m1 / n AS e,
                 n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1.0)) AS v,
                 a * (n - n1 - m1 + a) / n AS or_num,
                 (n1 - a) * (m1 - a) / n AS or_den,
                 n
          FROM s),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_strata,
                 CAST({_d('n')} AS BIGINT) AS n_total,
                 CAST({_d('a')} AS BIGINT) AS sum_exposed_returns,
                 {_d('e')} AS se, {_d('v')} AS sv,
                 {_d('or_num')} AS son, {_d('or_den')} AS sod
          FROM per)
        SELECT k_strata, n_total, sum_exposed_returns,
               {_q('se', 6)} AS expected_returns,
               {_q('sv', 6)} AS variance_sum,
               CASE WHEN sv <> 0.0
                    THEN {_q(f'{g} * {g} / sv', 6)} END AS cmh_stat,
               CASE WHEN sod <> 0.0
                    THEN {_q('son / sod', 6)} END AS mh_odds_ratio
        FROM agg"""


register("cmh_discount_returns", _q_cmh, _cmh_sql())
