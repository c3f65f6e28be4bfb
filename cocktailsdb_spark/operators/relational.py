"""Relational operators beyond the reference's inventory: set operations,
CUBE grouping sets, ranking/analytic windows, discrete quantiles, and
moment-based statistics (variance / correlation via exact decimal sums).

The reference (build_database.py / poc_tables.sql) has none of these; they
complete the engine's SQL surface per SURVEY.md §2.5's "no intersect/except,
no top-k, no analytic windows" gap list. Everything is a declarative
DataFrame plan; determinism notes per function.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..numeric import DEC, dsum, qround
from ..tables import spread


def years_active(orders: DataFrame, year_a: int, year_b: int, mode: str) -> DataFrame:
    """Customer keys with orders in year_a INTERSECT/EXCEPT year_b.
    Spark plans both as aggregate-style set ops (distinct semantics, same
    as SQL INTERSECT/EXCEPT); one shuffle each side on o_custkey."""
    def keys(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select(F.col("o_custkey").alias("custkey"))
        )

    a, b = keys(year_a), keys(year_b)
    if mode == "intersect":
        return a.intersect(b)
    if mode == "except":
        return a.subtract(b)  # EXCEPT DISTINCT semantics, same as SQL EXCEPT
    raise ValueError(f"mode must be intersect|except, got {mode!r}")


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """CUBE(l_returnflag, l_linestatus): all 4 grouping sets in one pass
    (Catalyst expands then single hash-agg). grouping() flags mark the
    subtotal level — cast int on both engines."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count("*").alias("n"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


def rank_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer with the full ranking-function family —
    row_number / rank / dense_rank / ntile share ONE window (one shuffle on
    o_custkey). Deterministic: ordering has the unique o_orderkey tiebreak."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
        .filter(F.col("rn") <= k)
    )


def daily_revenue_delta(orders: DataFrame) -> DataFrame:
    """lag/lead over daily revenue, windows partitioned by year so no
    single global-ordering partition exists at scale (year-boundary deltas
    are null by design). Revenue is an exact decimal sum, so the float
    subtraction is deterministic."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    w = Window.partitionBy(F.year("day")).orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("delta_prev"),
        (F.lead("revenue").over(w) - F.col("revenue")).alias("delta_next"),
    )


def quantile_disc(orders: DataFrame, qs: tuple[float, ...] = (0.5, 0.9)) -> DataFrame:
    """Discrete per-group quantiles: the element at index floor(q·(n-1))
    of the (o_totalprice, o_orderkey)-sorted group — type-1 quantile, pure
    element selection, zero interpolation arithmetic → exact across
    engines (continuous percentile interpolation is FP-order-sensitive).
    One shuffle; rank and count share the window partitioning."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.floor(F.lit(q) * (F.col("n") - 1)).cast("int") + 1,
                F.col("o_totalprice"),
            )
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return ranked.groupBy("o_orderpriority").agg(*aggs)


def _moments(x: Column, y: Column | None = None) -> dict[str, Column]:
    m = {"n": F.count(F.lit(1)).cast("double"), "sx": dsum(x), "sxx": dsum(x * x)}
    if y is not None:
        m.update({"sy": dsum(y), "syy": dsum(y * y), "sxy": dsum(x * y)})
    return m


def stats_moments(lineitem: DataFrame) -> DataFrame:
    """Per-returnflag mean / sample variance / stddev / corr(quantity,
    extendedprice) from exact decimal power sums. Spark's builtin
    stddev/corr merge partial states in partition order (FP-order-
    sensitive); computing from order-insensitive ``dsum`` moments makes
    the result identical across partitionings AND engines."""
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = _moments(x, y)
    g = lineitem.groupBy("l_returnflag").agg(
        *[c.alias(k) for k, c in m.items()]
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return g.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        (sx / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        corr.alias("corr_qty_price"),
    )


def price_histogram(orders: DataFrame, width: float = 50000.0) -> DataFrame:
    """Fixed-width histogram of o_totalprice — floor-bucket groupBy, the
    scan-side aggregation every profiling pass needs."""
    bucket = F.floor(F.col("o_totalprice") / width).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("lo", F.col("bucket") * width)
    )


ZSCORE_LOOKBACK = 7


def rolling_zscore(orders: DataFrame, lookback: int = ZSCORE_LOOKBACK) -> DataFrame:
    """Trailing-window anomaly score: each day's revenue vs the mean/stddev
    of the previous ``lookback`` days (the day itself excluded — a true
    leave-one-out baseline). Windows partition by year exactly like
    :func:`daily_revenue_delta` — no global single-partition ordering at
    scale; the first days of a year have a short (or empty) baseline and
    null z by design.

    Determinism: daily revenue and both frame sums aggregate as exact
    decimals (``dsum``/DECIMAL(24,8)); mean/variance/z are then single
    same-order IEEE expressions + qround, so the DuckDB twin is
    value-exact. Sample variance via (n·Σx² − (Σx)²)/(n·(n−1)); z only
    where n ≥ 2 and variance > 0."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    w = (
        Window.partitionBy(F.year("day"))
        .orderBy("day")
        .rowsBetween(-lookback, -1)
    )
    n = F.count("revenue").over(w).cast("double")
    s1 = F.sum(F.col("revenue").cast(DEC)).over(w).cast("double")
    s2 = F.sum((F.col("revenue") * F.col("revenue")).cast(DEC)).over(w).cast("double")
    var = (n * s2 - s1 * s1) / (n * (n - 1.0))
    z = F.when(
        (n >= 2.0) & (var > 0.0),
        qround((F.col("revenue") - s1 / n) / F.sqrt(var), 4),
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        F.count("revenue").over(w).cast("int").alias("n_prior"),
        z.alias("zscore"),
    )


INCR_AGG_CUTOFF = "1997-01-01"


def incremental_agg_merge(
    orders: DataFrame, cutoff: str = INCR_AGG_CUTOFF
) -> DataFrame:
    """Materialized-aggregate maintenance: a daily-revenue aggregate built
    from history (< cutoff) is REFRESHED with a new batch (≥ cutoff) by
    merging partial aggregates — union + re-aggregate on the group key —
    instead of rescanning history. The oracle is the FULL recompute over
    all rows, so the green check proves merge ≡ recompute.

    Partials stay DECIMAL(24,8) until the final cast, so combining them
    is exact (decimal addition is associative; going through double
    between passes would not be). Shuffle cost: the merge aggregates
    (day-grain partials + batch rows), never the history fact table —
    the point of the pattern at 100 TB."""
    day = F.to_date("o_orderdate").alias("day")
    part = lambda df: df.groupBy(day).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_partial"),
        F.count("*").alias("n_partial"),
    )
    base = part(orders.filter(F.to_date("o_orderdate") < F.lit(cutoff)))
    batch = part(orders.filter(F.to_date("o_orderdate") >= F.lit(cutoff)))
    return (
        base.unionByName(batch)
        .groupBy("day")
        .agg(
            F.sum("rev_partial").cast("double").alias("revenue"),
            F.sum("n_partial").alias("n_orders"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "revenue", "n_orders")
    )


EWMA_SPAN = 10
EWMA_ALPHA = 0.8


def ewma_daily_revenue(
    orders: DataFrame, span: int = EWMA_SPAN, alpha: float = EWMA_ALPHA
) -> DataFrame:
    """Finite-window EWMA trend over daily revenue: smoothed_t =
    Σ_{j<span} w_j · revenue_{t-j} / Σ w_j over the lags PRESENT, with
    w_j = alpha^j precomputed driver-side as Python literals — both
    engines then evaluate the identical left-associated weighted sum, so
    no libm pow() drift can split them (the recursive infinite-history
    EWMA form would carry float state across every row; the truncated
    window is the distributable, restartable form).

    Output: (day, revenue, ewma). One window per year partition (same
    no-global-ordering contract as daily_revenue_delta)."""
    weights = [alpha**j for j in range(span)]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    w = Window.partitionBy(F.year("day")).orderBy("day")
    num = None
    den = None
    for j, wt in enumerate(weights):
        lagged = F.lag("revenue", j).over(w)
        term = F.when(lagged.isNotNull(), lagged * F.lit(wt)).otherwise(F.lit(0.0))
        present = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        qround(num / den, 4).alias("ewma"),
    )


def groupwise_linreg(
    lineitem: DataFrame,
    group_col: str = "l_returnflag",
    x_col: str = "l_quantity",
    y_col: str = "l_extendedprice",
) -> DataFrame:
    """Per-group ordinary least squares (y = a·x + b) from ONE aggregate
    pass of exact-decimal moments — the distributed closed-form regression
    (the per-group twin of :func:`correlation_matrix`'s recipe; libraries
    do the same two-pass trick, this is the one-pass sufficient-statistics
    form). slope/intercept/r² are single same-order IEEE expressions over
    the exact sums, so the DuckDB twin is value-exact.

    Output: (group, n, slope, intercept, r2)."""
    x, y = F.col(x_col), F.col(y_col)
    m = lineitem.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
        dsum(y).alias("sy"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "grp",
        "n",
        qround(slope, 6).alias("slope"),
        qround(intercept, 4).alias("intercept"),
        qround(r2, 6).alias("r2"),
    )


def gapfill_locf(orders: DataFrame) -> DataFrame:
    """Time-series gap-fill: build a dense daily spine per series and fill
    missing days by last-observation-carried-forward (the hypertable
    `locf(gapfill(...))` shape, re-expressed declaratively).

    Series = order priority, value = daily revenue (exact decimal sum, so
    the filled value is bit-identical cross-engine). Plan shape: ONE
    shuffle builds the (series, day) daily aggregate; the per-series
    min/max bounds are a series-sized second aggregate whose `sequence()`
    explode generates the spine WITHOUT a driver round-trip (no collect,
    no Python date loop — the spine is a JVM expression, so a 10-year ×
    1M-series spine never materializes on the driver). The LOCF window
    partitions by series — at 100 TB the series key (device/customer) is
    the parallelism unit, and rows-unbounded-preceding `last(ignorenulls)`
    is a single ordered pass per series partition.

    Output: (series, day, revenue_filled, is_gap). Leading days are never
    NULL because each series' spine starts at its own first observation.
    """
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.to_date("o_orderdate").alias("dt"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    bounds = daily.groupBy("series").agg(
        F.min("dt").alias("d0"), F.max("dt").alias("d1")
    )
    spine = bounds.select(
        "series", F.explode(F.sequence("d0", "d1")).alias("dt")
    )
    w = (
        Window.partitionBy("series")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(daily, ["series", "dt"], "left").select(
        "series",
        F.date_format("dt", "yyyy-MM-dd").alias("day"),
        F.last("revenue", ignorenulls=True).over(w).alias("revenue_filled"),
        F.col("revenue").isNull().alias("is_gap"),
    )


def _local_skyline(batches):
    """Per-batch 2-D skyline (min price, max size) via the sort-and-scan
    trick: after sorting by (price asc, size desc), a point survives iff
    its size strictly exceeds every earlier point's size. Correct on
    DISTINCT (price, size) points: any dominator sorts strictly earlier
    and has size >= current, so `size > cummax(previous sizes)` is exactly
    non-dominance. Pure pandas on Arrow batches (no per-row Python)."""
    for pdf in batches:
        if len(pdf) == 0:
            yield pdf
            continue
        pdf = pdf.sort_values(
            ["p_retailprice", "p_size"], ascending=[True, False]
        ).reset_index(drop=True)
        prev_max = pdf["p_size"].cummax().shift(1)
        yield pdf[prev_max.isna() | (pdf["p_size"] > prev_max)]


def skyline_parts(part: DataFrame) -> DataFrame:
    """Pareto frontier (skyline) of parts: minimize p_retailprice,
    maximize p_size — the multi-objective "best tradeoffs" operator SQL
    expresses only as a quadratic NOT EXISTS self-join.

    Scale shape: classic two-phase local/global skyline. Points are first
    reduced to DISTINCT (size, price) with counts (one shuffle — this also
    makes dominance strictness automatic: distinct points that compare
    <=/>= must differ somewhere). Phase 1 prunes each partition to its
    LOCAL skyline with a narrow Arrow-batched scan (no shuffle; local
    non-dominance is necessary for global non-dominance, so no survivor is
    lost). Phase 2 runs the same scan on the single coalesced candidate
    partition — candidates are skyline-sized (O(distinct sizes), ~dozens),
    so the 1-partition pass is trivially small. The quadratic oracle twin
    is the exact-verify form; this plan does zero pairwise comparisons.

    Output: (p_size, p_retailprice, n_parts, min_partkey) per frontier
    point.
    """
    pts = part.groupBy("p_size", "p_retailprice").agg(
        F.count("*").alias("n_parts"),
        F.min("p_partkey").alias("min_partkey"),
    )
    local = pts.mapInPandas(_local_skyline, schema=pts.schema)
    return local.coalesce(1).mapInPandas(_local_skyline, schema=pts.schema)


def cusum_changepoint(orders: DataFrame) -> DataFrame:
    """Per-series change-point detection by CUSUM: the day where the
    cumulative sum of (daily revenue − series mean) attains its maximum
    absolute value — the classic single-change-point estimator (Page's
    CUSUM / binary-segmentation pivot; public statistics).

    Determinism: the running sum accumulates per-row deviations CAST to
    DECIMAL(24,8) — the cumulative total is then exact integer decimal
    arithmetic in both engines, immune to float association order; only
    the final reported statistic is a qround'd double. Plan: ONE shuffle
    for the daily aggregate, a series-sized mean aggregate broadcast back,
    one per-series ordered window pass for the cusum, one per-series
    argmax window — the series key is the parallelism unit (no global
    ordering anywhere).

    Output: (series, cp_day, cusum, direction) — one row per series;
    direction 'up' if the post-change mean is higher (cusum at the pivot
    is negative: the pre-pivot segment under-ran the mean), else 'down'.
    """
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.to_date("o_orderdate").alias("dt"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    stats = daily.groupBy("series").agg(
        dsum(F.col("revenue")).alias("tot"), F.count("*").alias("n")
    )
    w = (
        Window.partitionBy("series")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(stats), "series")
        .withColumn(
            "cusum_exact",
            F.sum(
                (F.col("revenue") - F.col("tot") / F.col("n")).cast(DEC)
            ).over(w),
        )
    )
    pick = Window.partitionBy("series").orderBy(
        F.abs(F.col("cusum_exact")).desc(), F.col("dt").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "series",
            F.date_format("dt", "yyyy-MM-dd").alias("cp_day"),
            qround(F.col("cusum_exact").cast("double"), 4).alias("cusum"),
            F.when(F.col("cusum_exact") < 0, F.lit("up"))
            .otherwise(F.lit("down"))
            .alias("direction"),
        )
    )


def gapfill_interpolate(orders: DataFrame) -> DataFrame:
    """`gapfill_locf`'s linear-interpolation twin (the hypertable
    `interpolate(gapfill(...))` shape): each missing day gets the value
    linearly interpolated between its bounding observations.

    Same spine/plan as gapfill_locf (one daily-aggregate shuffle, JVM
    `sequence()` spine, per-series window passes — series key is the
    parallelism unit). The bounding observations come from two RUNNING
    frames: backward last(ignorenulls) on the ascending order, and the
    forward bound via last(ignorenulls) on the DESCENDING order — never
    a (currentRow, unboundedFollowing) frame, which Spark's
    UnboundedFollowingWindowFunctionFrame evaluates by re-scanning to
    the partition end for every row (O(n²) per partition; measured 2.6 s
    → 0.9 s at sf0.1 on 2.4k-day series when rewritten). The
    interpolation weight (d−d0)/(d1−d0) and the blend are single
    same-order IEEE expressions, qround(4) — value-exact cross-engine.
    Trailing days (no next observation) carry the last value; the spine
    starts at each series' first observation, so there is no leading
    edge.

    Output: (series, day, revenue_interp, is_gap).
    """
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.to_date("o_orderdate").alias("dt"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    bounds = daily.groupBy("series").agg(
        F.min("dt").alias("d0"), F.max("dt").alias("d1")
    )
    spine = bounds.select("series", F.explode(F.sequence("d0", "d1")).alias("dt"))
    j = spine.join(daily, ["series", "dt"], "left")
    back = (
        Window.partitionBy("series")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("series")
        .orderBy(F.col("dt").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_v = F.last("revenue", ignorenulls=True).over(back)
    next_v = F.last("revenue", ignorenulls=True).over(fwd)
    prev_d = F.last(
        F.when(F.col("revenue").isNotNull(), F.col("dt")), ignorenulls=True
    ).over(back)
    next_d = F.last(
        F.when(F.col("revenue").isNotNull(), F.col("dt")), ignorenulls=True
    ).over(fwd)
    span = F.datediff(next_d, prev_d).cast("double")
    w = F.datediff(F.col("dt"), prev_d).cast("double") / span
    interp = F.when(F.col("revenue").isNotNull(), F.col("revenue")).otherwise(
        F.when(next_v.isNull(), prev_v).otherwise(
            prev_v + (next_v - prev_v) * w
        )
    )
    return j.select(
        "series",
        F.date_format("dt", "yyyy-MM-dd").alias("day"),
        qround(interp, 4).alias("revenue_interp"),
        F.col("revenue").isNull().alias("is_gap"),
    )


def winsorized_stats(
    orders: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Per-group robust statistics by winsorization: clip o_totalprice to
    the group's discrete [p_lo, p_hi] quantiles, then mean/stddev of the
    clipped values — the outlier-insensitive profile every ingest QA pass
    wants next to the raw moments.

    Cutoffs use the same type-1 (pure element selection, zero
    interpolation) quantile as :func:`quantile_disc`, so they are exact
    across engines; clipping is least/greatest against the broadcast
    group-sized cutoff row; moments are decimal-exact ``dsum`` power sums
    (order-insensitive), combined into mean/stddev with one identical
    double expression per engine. Two data shuffles total — the rank
    window and the final aggregate; at 100 TB the cutoffs come from a
    bounded sample instead of the exact rank (this operator is the
    exact-verify twin of that plan).
    """
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )

    def _at(q: float) -> Column:
        idx = F.floor(F.lit(q) * (F.col("n") - 1)).cast("int") + 1
        return F.max(F.when(F.col("rn") == idx, F.col("o_totalprice")))

    cuts = ranked.groupBy("o_orderpriority").agg(
        _at(lo).alias("p_lo"), _at(hi).alias("p_hi")
    )
    return _winsorized_from_cuts(orders, cuts)


def _winsorized_from_cuts(orders: DataFrame, cuts: DataFrame) -> DataFrame:
    """Shared clip + decimal-moment tail: broadcast the group-sized
    (o_orderpriority, p_lo, p_hi) cutoff frame, clip, aggregate."""
    v = F.greatest(F.least(F.col("o_totalprice"), F.col("p_hi")), F.col("p_lo"))
    g = (
        orders.join(F.broadcast(cuts), "o_orderpriority")
        .select("o_orderpriority", "p_lo", "p_hi", v.alias("v"))
        .groupBy("o_orderpriority", "p_lo", "p_hi")
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum(F.col("v")).alias("sx"),
            dsum(F.col("v") * F.col("v")).alias("sxx"),
        )
    )
    n, sx, sxx = F.col("n").cast("double"), F.col("sx"), F.col("sxx")
    # greatest(.,0): the exact-zero variance of an all-equal group can
    # round to a tiny negative in double; n>1 guard: 1-row groups have no
    # sample variance (NULL, not NaN — see spearman_rank_corr note)
    var = F.greatest(sxx - sx * sx / n, F.lit(0.0)) / (n - 1)
    return g.select(
        "o_orderpriority",
        F.col("n"),
        "p_lo",
        "p_hi",
        qround(sx / n, 4).alias("win_mean"),
        F.when(n > 1, qround(F.sqrt(var), 4)).alias("win_std"),
    )


def winsorized_stats_scaled(
    orders: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """:func:`winsorized_stats` at scale: identical output, but the
    quantile cutoffs come from the histogram-narrowed two-pass selection
    (:func:`quantile_two_pass`) instead of a per-group rank window — no
    task ever sorts more than one histogram bucket (~n/n_buckets rows),
    where the exact form's window sorts whole groups (n/5 rows in one
    task: the plan that dies first at 100 TB). Same type-1
    k = floor(q·(n−1))+1 selection, so the cutoffs — and therefore every
    downstream clipped moment — are equal BY CONSTRUCTION, which is why
    both forms share one DuckDB oracle."""
    cuts = quantile_two_pass(orders, qs=(lo, hi)).select(
        "o_orderpriority",
        F.col(f"p{int(lo * 100)}").alias("p_lo"),
        F.col(f"p{int(hi * 100)}").alias("p_hi"),
    )
    return _winsorized_from_cuts(orders, cuts)


INCR_JOIN_CUTOFF = "1998-01-01"


def incremental_join_mv(
    orders: DataFrame, customer: DataFrame, cutoff: str = INCR_JOIN_CUTOFF
) -> DataFrame:
    """Materialized JOIN-view maintenance — the delta-join identity
    Δ(O ⋈ C) = ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC (the standard
    incremental view maintenance rule; complements
    :func:`incremental_agg_merge`, which maintains an aggregate view).
    O splits on the cutoff date (ΔO = the new order batch); ΔC models a
    late-arriving customer cohort (c_custkey % 50 == 0).

    The refreshed view is V_old ∪ the three delta joins, aggregated per
    market segment; the oracle is the FULL recompute O ⋈ C, so a green
    hash proves delta maintenance ≡ rescan. Scale shape: the three delta
    joins each touch one delta side (batch-sized, not history-sized) —
    ΔC broadcasts both times it appears; only V_old = O_old ⋈ C_old is
    history-sized, and in a real deployment that term is the STORED view
    (read, not recomputed) — the whole point of the pattern. The final
    aggregate merges decimal partials exactly as incremental_agg_merge.
    """
    is_new_o = F.to_date("o_orderdate") >= F.lit(cutoff)
    is_new_c = F.col("c_custkey") % 50 == 0
    o_old, d_o = orders.filter(~is_new_o), orders.filter(is_new_o)
    c_old, d_c = customer.filter(~is_new_c), customer.filter(is_new_c)

    def j(o_side: DataFrame, c_side: DataFrame, bcast: bool) -> DataFrame:
        c2 = c_side.select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        return o_side.select("o_custkey", "o_totalprice").join(
            F.broadcast(c2) if bcast else c2, "o_custkey"
        )

    part = lambda df: df.groupBy("c_mktsegment").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_partial"),
        F.count("*").alias("n_partial"),
    )
    v_old = part(j(o_old, c_old, False))          # the stored view term
    deltas = part(
        j(d_o, c_old, False)
        .unionByName(j(o_old, d_c, True))
        .unionByName(j(d_o, d_c, True))
    )
    return (
        v_old.unionByName(deltas)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("rev_partial").cast("double").alias("revenue"),
            F.sum("n_partial").alias("n_orders"),
        )
    )


MAD_K = 3.0


def mad_outlier_report(orders: DataFrame, k: float = MAD_K) -> DataFrame:
    """Robust outlier detection by median absolute deviation: a value is
    an outlier when |x − median| > k·MAD (Hampel filter, k≈3 — the
    robust-statistics replacement for the 3-sigma rule, which breaks when
    outliers inflate sigma itself). Completes the robust-profiling family
    next to :func:`winsorized_stats` (clipping) and rolling z-score
    (parametric).

    Both medians are type-1 quantiles (exact element selection — the same
    convention as quantile_disc) computed with one rank window each; the
    group-sized cutoff rows broadcast back onto the data, so the plan is
    two window passes + one final aggregate. The derived deviation is a
    single double subtraction (identical IEEE op both engines), so the
    second median is exact too.
    """

    def _median_of(df: DataFrame, val: str, tiebreak: str) -> DataFrame:
        w = Window.partitionBy("o_orderpriority").orderBy(val, tiebreak)
        ranked = df.select(
            "o_orderpriority",
            val,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(
                Window.partitionBy("o_orderpriority")
            ).alias("n"),
        )
        idx = F.floor(F.lit(0.5) * (F.col("n") - 1)).cast("int") + 1
        return ranked.groupBy("o_orderpriority").agg(
            F.max(F.when(F.col("rn") == idx, F.col(val))).alias(f"med_{val}")
        )

    med = _median_of(orders, "o_totalprice", "o_orderkey")
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.col("med_o_totalprice").alias("med"),
        F.abs(F.col("o_totalprice") - F.col("med_o_totalprice")).alias("dev"),
    )
    mad = _median_of(dev, "dev", "o_orderkey").withColumnRenamed(
        "med_dev", "mad"
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("dev") > F.lit(k) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n",
            "med",
            "mad",
            "n_outliers",
            qround(
                F.col("n_outliers").cast("double") / F.col("n"), 6
            ).alias("outlier_ratio"),
        )
    )


def spearman_rank_corr(lineitem: DataFrame) -> DataFrame:
    """Per-group Spearman rank correlation between quantity and extended
    price — the monotonic-association twin of the Pearson entries
    (stats_moments, correlation_matrix): outlier-proof, and the right
    correlation for skewed columns a profiler meets in the wild.

    Classical average-rank tie handling: avg_rank = min_rank + (ties−1)/2
    from a rank window plus a (group, value)-count window; ranks are
    half-integers, exactly representable, so the Pearson-on-ranks moment
    sums are DECIMAL-exact and both engines combine them with one
    identical IEEE expression (the stats_moments recipe). Two window
    specs + the final aggregate; all partition by the group key first, so
    the group is the parallelism unit.
    """
    g = "l_returnflag"
    x, y = "l_quantity", "l_extendedprice"

    def avg_rank(col: str) -> Column:
        rk = F.rank().over(Window.partitionBy(g).orderBy(col))
        ties = F.count("*").over(Window.partitionBy(g, col))
        return rk + (ties - F.lit(1)) / F.lit(2.0)

    ranked = lineitem.select(
        g,
        avg_rank(x).alias("rx"),
        avg_rank(y).alias("ry"),
    )
    m = ranked.groupBy(g).agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("rx")).alias("sx"),
        dsum(F.col("ry")).alias("sy"),
        dsum(F.col("rx") * F.col("rx")).alias("sxx"),
        dsum(F.col("ry") * F.col("ry")).alias("syy"),
        dsum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    rho = (n * sxy - sx * sy) / F.sqrt(den2)
    # degenerate group (constant column, n<2): den2 <= 0 -> NULL, never
    # NaN — Spark's floor-based qround coerces NaN to a number while the
    # DuckDB twin keeps it, so NaN must not reach qround
    return m.select(
        g,
        n.cast("long").alias("n"),
        F.when(den2 > 0, qround(rho, 6)).alias("spearman_rho"),
    )


def spearman_rank_corr_scaled(lineitem: DataFrame) -> DataFrame:
    """:func:`spearman_rank_corr` at scale — identical output, no
    data-sized sort anywhere. The exact form's rank windows partition by
    l_returnflag (3 groups), so one task sorts n/3 rows: the first plan
    to die at 100 TB. This form computes the SAME average ranks from the
    value histogram instead:

        avg_rank(v) = (# rows with smaller value) + (count(v) + 1) / 2

    — one data-sized map-side-combined aggregate to the distinct
    (group, x, y) triple frame, per-dimension avg-ranks via RANGE-frame
    cumulative windows over that frame (peers share one sort with the
    per-value total — no marginal aggregate, no join back), and weighted
    decimal moment sums
    Σ c·r, Σ c·r², Σ c_xy·(r_x·r_y). Every per-row decimal addend equals
    the exact form's (the r_x·r_y product is the same single IEEE double
    multiply before the decimal cast), and decimal addition is
    order-insensitive, so the moments — and ρ — match bit-for-bit; both
    forms share one DuckDB oracle. The sort burden drops from O(n/groups)
    to O(ndv/groups) per task."""
    g = "l_returnflag"
    x, y = "l_quantity", "l_extendedprice"
    # ndv-sized after the map-side-combined aggregate — materialize ONCE:
    # both rank window passes replan this subtree, which would re-scan the
    # data-sized input twice (cluster form: persisted table / cached
    # dataset, same cut point)
    triples = (
        lineitem.groupBy(g, x, y).agg(F.count("*").alias("c")).localCheckpoint()
    )

    def avg_rank(col: str, alias: str):
        # both directly on the triple frame — no marginal aggregate, no
        # join back (the y-marginal is ~ndv-sized, so its join was the
        # plan's one non-broadcast join). RANGE frame to current row
        # includes value-peers: cum_le = # rows with value ≤ v; the peer
        # window shares the same (g, col) sort, so both ride ONE exchange.
        w_le = (
            Window.partitionBy(g)
            .orderBy(col)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_eq = Window.partitionBy(g, col)
        cum_le = F.sum("c").over(w_le)
        tot = F.sum("c").over(w_eq)
        # avg_rank = cum_prev + (tot+1)/2 = cum_le - tot + (tot+1)/2
        return (cum_le - (tot - 1) / F.lit(2.0)).alias(alias)

    joined = triples.withColumn("rx", avg_rank(x, "rx")).withColumn(
        "ry", avg_rank(y, "ry")
    )

    def wdsum(val: Column) -> Column:
        # the exact form's dsum addend (double → DECIMAL(24,8)) times the
        # row multiplicity, multiplied IN DECIMAL — exact, so the sum
        # equals the row-wise decimal sum
        return F.sum(val.cast(DEC) * F.col("c")).cast("double")

    rx, ry = F.col("rx"), F.col("ry")
    m = joined.groupBy(g).agg(
        F.sum("c").cast("double").alias("n"),
        wdsum(rx).alias("sx"),
        wdsum(ry).alias("sy"),
        wdsum(rx * rx).alias("sxx"),
        wdsum(ry * ry).alias("syy"),
        wdsum(rx * ry).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    rho = (n * sxy - sx * sy) / F.sqrt(den2)
    return m.select(
        g,
        n.cast("long").alias("n"),
        F.when(den2 > 0, qround(rho, 6)).alias("spearman_rho"),
    )


def bucketed_prefix(
    vals: DataFrame,
    order: str | list[str],
    counts: tuple[str, ...],
    group: tuple[str, ...] = (),
) -> DataFrame:
    """Exact running totals of integer count columns with no group-wide
    sort: the two-pass bucketed prefix sum behind every rank-free
    statistic here (Mann–Whitney U, Kruskal–Wallis, both KS tests,
    Anderson–Darling, Gini, Brown–Forsythe, PERCENTILE_CONT, the
    conformal order statistic and ``evaluation.roc_auc``).

    ``vals`` carries a ``bucket`` column, a monotone integer function of
    the ``order`` key so that bucket order is value order, plus the
    ``counts`` columns. Pass 1 sums each count per (group, bucket) — a
    histogram bounded by the bucket grid, not by the data — and joins
    it to itself within the group as a broadcast square: the sum over
    earlier buckets is each bucket's offset, the sum over all of them the
    group's total. Pass 2 is a rows-frame window inside each
    (group, bucket) ordered by ``order``, so no task ever sorts more than
    one bucket and no unpartitioned window exists. Every sum is over
    integers, so the result is exact at any size.

    Returns each ``vals`` row with, per count column ``c``, ``cum_<c>``
    (its inclusive running total in ``order`` within its group; the
    exclusive ``cum_lt`` is ``cum_<c> - c``) and ``n_<c>`` (the group's
    total). ``vals`` feeds both passes, so it is pinned here, once; it is
    sized by distinct values, not by rows (cluster form: a persisted
    table at the same cut point).
    """
    vals = vals.localCheckpoint()
    keys = [*group, "bucket"]
    buckets = vals.groupBy(*keys).agg(*[F.sum(c).alias(f"b_{c}") for c in counts])
    prev = buckets.select(
        *group,
        F.col("bucket").alias("pb"),
        *[F.col(f"b_{c}").alias(f"p_{c}") for c in counts],
    )
    # every bucket pair within a group (a cross join when there is none)
    square = buckets.join(F.broadcast(prev), list(group) or None)
    earlier = F.col("pb") < F.col("bucket")
    offsets = square.groupBy(*keys).agg(
        *[
            F.coalesce(F.sum(F.when(earlier, F.col(f"p_{c}"))), F.lit(0)).alias(
                f"off_{c}"
            )
            for c in counts
        ],
        *[F.sum(f"p_{c}").alias(f"n_{c}") for c in counts],
    )
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return vals.join(F.broadcast(offsets), keys).select(
        *vals.columns,
        *[(F.col(f"off_{c}") + F.sum(c).over(w_in)).alias(f"cum_{c}") for c in counts],
        *[f"n_{c}" for c in counts],
    )


def type1_rank(q: float) -> Column:
    """The type-1 order statistic floor(q·(n−1))+1 of a group of size
    ``n`` (the repo's quantile_disc convention)."""
    return F.floor(F.lit(q) * (F.col("n") - 1)).cast("long") + 1


def histogram_quantiles(
    rows: DataFrame,
    group: str,
    bucket: Column,
    order: list[str],
    qs: tuple[float, ...],
    rank: Callable[[float], Column],
) -> DataFrame:
    """Exact per-group order statistics without a per-group full sort —
    the histogram-narrowing algorithm every warehouse uses when groups
    are too big to sort (BigQuery/Presto exact-percentile shape).

    Pass 1 counts ``rows`` per (group, ``bucket``) — one map-side-combined
    shuffle whose output is histogram-sized, not data-sized. The
    cumulative bucket counts (a window over the histogram frame) locate,
    per group and quantile, WHICH bucket holds the target rank
    ``rank(q)`` — a Column over the group size ``n`` — and the offset
    inside it. Pass 2 ranks ONLY the selected buckets in ``order``, so
    the window runs on ~n/n_buckets rows. ``bucket`` must be a monotone
    function of the first ``order`` key: equal values then share a
    bucket, so global rank = cumulative-previous + in-bucket rank is
    exact.

    Returns one row per (group, q): the ``rows`` row at that rank, with
    ``q`` and the group size ``n``.
    """
    hist = rows.groupBy(group, bucket.alias("bucket")).agg(F.count("*").alias("c"))
    wb = (
        Window.partitionBy(group)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # histogram-sized (≤ groups × buckets rows) — materialize ONCE: the
    # per-q selection branches and the pass-2 bucket list each replan this
    # subtree, which would re-run the data-sized histogram aggregate
    # len(qs)+1 times
    cum = hist.select(
        group,
        "bucket",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cum_prev"),
        F.sum("c").over(Window.partitionBy(group)).alias("n"),
    ).localCheckpoint()
    # selection rows: one per (group, q) — which bucket, which offset
    sel = None
    for q in qs:
        k = rank(q)
        s = cum.filter(
            (k > F.col("cum_prev")) & (k <= F.col("cum_prev") + F.col("c"))
        ).select(
            group,
            F.lit(q).alias("q"),
            "bucket",
            (k - F.col("cum_prev")).alias("offset"),
            "n",
        )
        sel = s if sel is None else sel.unionByName(s)
    # pass 2: rank only the selected buckets (≈ n / n_buckets rows each)
    wanted = sel.select(group, "bucket").distinct()
    narrowed = rows.withColumn("bucket", bucket).join(
        F.broadcast(wanted), [group, "bucket"]
    )
    wl = Window.partitionBy(group, "bucket").orderBy(order)
    return (
        narrowed.withColumn("lrank", F.row_number().over(wl).cast("long"))
        .join(F.broadcast(sel), [group, "bucket"])
        .filter(F.col("lrank") == F.col("offset"))
        .drop("bucket", "lrank", "offset")
    )


QTP_BUCKETS = 1024
QTP_DOMAIN = (0.0, 600000.0)  # o_totalprice domain; prod: first-pass sample


def quantile_two_pass(
    orders: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9),
    n_buckets: int = QTP_BUCKETS,
    domain: tuple[float, float] = QTP_DOMAIN,
) -> DataFrame:
    """EXACT per-priority quantiles of ``o_totalprice`` without a
    per-group full sort: :func:`histogram_quantiles` over a fixed
    ``n_buckets`` value grid, ranking ties by order key. Output identical
    to :func:`quantile_disc` (same type-1 definition, same oracle) —
    green hash proves narrowing ≡ naive sort.
    The fixed ``domain`` stands in for the sampling pre-pass a production
    run uses to pick the grid.
    """
    lo, hi = domain
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("o_totalprice") - lo) / width).cast("int")
        ),
    )
    picked = histogram_quantiles(
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        "o_orderpriority",
        bucket,
        ["o_totalprice", "o_orderkey"],
        qs,
        type1_rank,
    )
    return picked.groupBy("o_orderpriority").agg(
        *[
            F.max(
                F.when(F.col("q") == q, F.col("o_totalprice"))
            ).alias(f"p{int(q * 100)}")
            for q in qs
        ]
    )

FI_MIN_SUPPORT = 3
FI_TOP_N = 30


def frequent_itemset_pairs(
    lineitem: DataFrame,
    min_support: int = FI_MIN_SUPPORT,
    top_n: int = FI_TOP_N,
) -> DataFrame:
    """Market-basket analysis, level 2 of Apriori (Agrawal & Srikant
    1994 — public): part pairs co-purchased in the same order, with
    support count and lift against the single-item frequencies. The
    co-occurrence self-join is keyed on l_orderkey, whose fanout is
    bounded by lineitems-per-order (≤7 in TPC-H) — the same
    blocking-IS-the-join-key shape as the triangle census, so candidate
    pairs are O(orders), never quadratic in parts.

    Lift = P(a,b) / (P(a)·P(b)) over order-basket probabilities; item
    frequencies are part-sized and broadcast twice; the basket total is
    a broadcast scalar. Rounded-lift TakeOrdered with the pair as
    tiebreak (repo ordering convention).
    """
    b = lineitem.select("l_orderkey", "l_partkey").dropDuplicates(
        ["l_orderkey", "l_partkey"]
    )
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    item = b.groupBy(F.col("l_partkey")).agg(F.count("*").alias("n_item"))
    n_orders = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    no = F.col("n_orders").cast("double")
    lift = (F.col("support").cast("double") / no) / (
        (F.col("n_a").cast("double") / no) * (F.col("n_b").cast("double") / no)
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("long").alias("support"),
            qround(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(top_n)
    )


def chisq_contingency(orders: DataFrame) -> DataFrame:
    """Chi-square statistic of independence for the (orderpriority ×
    quarter) contingency table — the categorical-drift screen next to
    PSI's numeric one. Expected counts E = row_total·col_total/n and the
    statistic Σ (O−E)²/E are computed from exact BIGINT marginals with
    one identical double expression per cell, summed in quantized
    integer space (order-insensitive). Output: one row — n, dof,
    chi2 (statistic only; the p-value lookup is a client-side constant
    table, not an engine operator).
    """
    r = F.col("o_orderpriority")
    c = F.quarter("o_orderdate")
    observed = orders.groupBy(r.alias("r"), c.alias("c")).agg(
        F.count("*").alias("o")
    )
    # densify the grid: a category pair with ZERO observations still
    # contributes (0-E)^2/E = E — exactly the strongest drift signal;
    # building cells only from observed combos would silently omit it
    grid = observed.select("r").distinct().crossJoin(
        observed.select("c").distinct()
    )
    cells = grid.join(observed, ["r", "c"], "left").select(
        "r", "c", F.coalesce("o", F.lit(0)).alias("o")
    )
    rows_ = cells.groupBy("r").agg(F.sum("o").alias("row_t"))
    cols_ = cells.groupBy("c").agg(F.sum("o").alias("col_t"))
    n = cells.agg(F.sum("o").alias("n"), F.countDistinct("r").alias("nr"),
                  F.countDistinct("c").alias("nc"))
    e = F.col("row_t").cast("double") * F.col("col_t").cast("double") / F.col(
        "n"
    ).cast("double")
    contrib = F.floor(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
        * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    return (
        cells.join(F.broadcast(rows_), "r")
        .join(F.broadcast(cols_), "c")
        .crossJoin(F.broadcast(n))
        .agg(
            F.max("n").cast("long").alias("n"),
            ((F.max("nr") - 1) * (F.max("nc") - 1)).cast("long").alias("dof"),
            (F.sum(contrib) / F.lit(1e9)).alias("chi2"),
        )
    )


def _rfm_customer_frame(orders: DataFrame) -> DataFrame:
    """Shared RFM base: per customer, days-since-last-order vs the corpus
    max date (no wall clock), order count, exact-decimal spend as double.
    One customer-grain aggregate + a broadcast scalar."""
    ref = orders.agg(F.max(F.to_date("o_orderdate")).alias("ref_day"))
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count("*").alias("freq"),
            dsum(F.col("o_totalprice")).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_day", "last_day").alias("recency_days"),
            "freq",
            "monetary",
        )
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    CRM scoring, public marketing-analytics canon): per customer,
    days-since-last-order (vs the corpus max date — no wall clock),
    order count, and exact decimal spend; each dimension scored 1–5 by
    ntile over a deterministic (value, custkey) order; output is the
    125-cell segment census.

    One customer-grain aggregate (data-sized shuffle), three ntile
    windows sharing ONE customer-sized frame, broadcast scalar for the
    reference date, then a cell-count aggregate. The unpartitioned ntile
    is exact-verify scale posture: at 100M+ customers the quintile
    CUTOFFS come from the two-pass histogram and the scores become a
    narrow map — that plan is :func:`rfm_segments_scaled` (registered,
    oracle-checked); this form stays as the small-data / exact-tie-split
    variant. R scores high for RECENT (small day-gap), F and M high for
    large values — the conventional orientation.
    """
    per = _rfm_customer_frame(orders)
    # R: most recent (smallest gap) = 5 -> ntile over DESC recency
    wr = Window.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
    wf = Window.orderBy(F.asc("freq"), F.asc("o_custkey"))
    wm = Window.orderBy(F.asc("monetary"), F.asc("o_custkey"))
    scored = per.select(
        F.ntile(5).over(wr).alias("r"),
        F.ntile(5).over(wf).alias("f"),
        F.ntile(5).over(wm).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(
            F.concat_ws("-", "r", "f", "m").alias("segment"), "n_customers"
        )
    )


RFM_QS = (0.2, 0.4, 0.6, 0.8)
RFM_BUCKETS = 1024
# per-dimension histogram domains; wrong guesses only unbalance buckets
# (values clamp to the edge bins and pass 2 still sorts true values), they
# never change the result — prod picks these from a first-pass sample
RFM_DOMAINS = {
    "recency": (0.0, 4000.0),
    "freq": (0.0, 64.0),
    "monetary": (0.0, 600000.0),
}


def rfm_segments_scaled(
    orders: DataFrame,
    qs: tuple[float, ...] = RFM_QS,
    n_buckets: int = RFM_BUCKETS,
    domains: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """:func:`rfm_segments` at scale — quintile CUTOFFS via the two-pass
    histogram narrowing (:func:`histogram_quantiles`, run for all three
    dimensions in ONE partitioned frame keyed by ``dim``), then
    scoring as a narrow broadcast map. Zero unpartitioned windows: the
    cumulative-histogram and in-bucket-rank windows partition on ``dim``
    / ``(dim, bucket)``, so nothing ever sorts more than a histogram or
    one bucket (~n/n_buckets rows) in one task.

    Scoring semantics are cutoff-based (score = 1 + #cutoffs exceeded;
    recency inverted so recent = 5): equal values always score equally,
    unlike exact ntile which splits ties by custkey at tile boundaries —
    the semantics a production RFM actually wants, and fully
    order-insensitive, hence exactly reproducible by the DuckDB oracle.
    Cutoff k for quantile q is the order statistic floor(q·(n−1))+1, the
    repo's quantile_disc convention; selection is exact (pass 2 sorts
    true values inside the selected buckets only).
    """
    domains = RFM_DOMAINS if domains is None else domains
    per = _rfm_customer_frame(orders).localCheckpoint()
    stacked = per.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("recency").alias("dim"),
                    F.col("recency_days").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("freq").alias("dim"),
                    F.col("freq").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("monetary").alias("dim"),
                    F.col("monetary").alias("value"),
                ),
            )
        ).alias("dv"),
    ).select("o_custkey", F.col("dv.dim").alias("dim"), F.col("dv.value").alias("value"))
    lo_e = w_e = None
    for d, (lo, hi) in domains.items():
        width = (hi - lo) / n_buckets
        cond = F.col("dim") == d
        lo_e = F.when(cond, F.lit(lo)) if lo_e is None else lo_e.when(cond, F.lit(lo))
        w_e = F.when(cond, F.lit(width)) if w_e is None else w_e.when(cond, F.lit(width))
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((F.col("value") - lo_e) / w_e).cast("int")),
    )
    picked = histogram_quantiles(
        stacked, "dim", bucket, ["value", "o_custkey"], qs, type1_rank
    )
    cuts = picked.groupBy().agg(
        *[
            F.max(
                F.when((F.col("dim") == d) & (F.col("q") == q), F.col("value"))
            ).alias(f"{d}_{int(q * 100)}")
            for d in domains
            for q in qs
        ]
    )

    def n_above(value, d):
        e = None
        for q in qs:
            hit = (value > F.col(f"{d}_{int(q * 100)}")).cast("int")
            e = hit if e is None else e + hit
        return e

    scored = per.crossJoin(F.broadcast(cuts)).select(
        (F.lit(5) - n_above(F.col("recency_days").cast("double"), "recency"))
        .cast("int")
        .alias("r"),
        (F.lit(1) + n_above(F.col("freq").cast("double"), "freq"))
        .cast("int")
        .alias("f"),
        (F.lit(1) + n_above(F.col("monetary"), "monetary")).cast("int").alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(F.concat_ws("-", "r", "f", "m").alias("segment"), "n_customers")
    )


def yoy_revenue_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year monthly revenue growth — CALENDAR-join alignment
    over the month-grain frame (calendar-sized, ~84 rows for 7 years;
    the data-sized step is the one monthly aggregate). A row-offset
    lag(12) would silently misalign every month after a gap in the
    series; joining on the computed same-month-last-year key yields NULL
    for missing twins regardless of gaps. Growth is a single same-order
    IEEE division of exact decimal sums, qround'd."""
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    # calendar self-join, NOT lag(12): a row-offset lag misaligns every
    # month after a gap; joining on the computed same-month-next-year key
    # yields NULL for missing twins regardless of gaps
    prev = monthly.select(
        F.date_format(
            F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 12),
            "yyyy-MM",
        ).alias("month"),
        F.col("revenue").alias("prev_revenue"),
    )
    return monthly.join(prev, "month", "left").select(
        "month",
        "revenue",
        qround(
            (F.col("revenue") - F.col("prev_revenue"))
            / F.col("prev_revenue")
            * 100.0,
            4,
        ).alias("yoy_pct"),
    )


def rolling_range_revenue(orders: DataFrame, days: int = 7) -> DataFrame:
    """Trailing-week revenue per day using a RANGE window frame — the
    frame mode the rest of the window family doesn't exercise, and the
    semantically correct one under calendar gaps: a ROWS frame counts
    the previous N ROWS (a gap silently stretches the lookback window),
    while RANGE bounds the frame by the ORDER-BY VALUE, so a day after a
    three-day gap still sums exactly the trailing ``days`` calendar days.
    Ordering is the integer day number (epoch days) — range frames need
    numeric order keys, and integer day arithmetic is engine-exact.

    One data-sized shuffle (daily aggregate); the window partitions by
    series (order priority) like every other per-series window here.
    Exact decimal daily sums make the frame sum deterministic.
    """
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    daynum = F.datediff("day", F.lit("1970-01-01"))
    w = (
        Window.partitionBy("series")
        .orderBy(daynum)
        .rangeBetween(-days, -1)
    )
    return daily.select(
        "series",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        F.coalesce(
            F.sum(F.col("revenue").cast(DEC)).over(w).cast("double"),
            F.lit(0.0),
        ).alias("trailing_week"),
    )


# --- two-sample statistics ------------------------------------------------

TTEST_GROUP_A = "1-URGENT"
TTEST_GROUP_B = "5-LOW"


def welch_ttest(orders: DataFrame) -> DataFrame:
    """Welch's unequal-variance t-test comparing ``o_totalprice`` between
    two order-priority populations — the profiler's A/B primitive (does
    segment A pay more than segment B?).

    ONE scalar map-side-combined aggregate over the scan: per-group
    n / Σx / Σx² as conditional ``dsum`` moments (order-insensitive exact
    decimal sums, the stats_moments convention), then the t statistic and
    Welch–Satterthwaite degrees of freedom as scalar IEEE arithmetic on
    the single result row, written with the identical expression shape as
    the DuckDB twin and pinned with qround. Scales as a pure reduction —
    no join, no window, one exchange of partial-aggregate rows.
    """
    x = F.col("o_totalprice").cast("double")
    a = F.col("o_orderpriority") == TTEST_GROUP_A
    b = F.col("o_orderpriority") == TTEST_GROUP_B

    def side(pred, tag):
        xs = F.when(pred, x)
        return [
            F.count(xs).cast("double").alias(f"n_{tag}"),
            dsum(xs).alias(f"sx_{tag}"),
            dsum(xs * xs).alias(f"sxx_{tag}"),
        ]

    g = orders.agg(*side(a, "a"), *side(b, "b"))
    na, nb = F.col("n_a"), F.col("n_b")
    ma, mb = F.col("sx_a") / na, F.col("sx_b") / nb
    va = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / na) / (na - 1)
    vb = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return g.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        qround(ma, 6).alias("mean_a"),
        qround(mb, 6).alias("mean_b"),
        qround(t, 6).alias("t_stat"),
        qround(dof, 4).alias("dof"),
    )


MW_BUCKET_WIDTH = 10_000.0


def mann_whitney_u(orders: DataFrame) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) on ``o_totalprice`` between the
    same two priority populations — the nonparametric twin of
    :func:`welch_ttest` for skewed revenue distributions.

    Rank-free at scale (the spearman_rank_corr_scaled histogram trick,
    specialised): ranks never materialise per row. One data-sized
    map-side-combined aggregate builds the distinct-value frame
    (price → per-group counts); global cumulative counts come from
    :func:`bucketed_prefix` over fixed-width price buckets (≤ ~1,000 at
    any corpus size for TPC-H price ranges), so no task ever sorts more
    than one bucket of distinct values. The rank-sum identity

        2·R_A = Σ_v ca(v) · (2·cum_lt(v) + t(v) + 1)

    is pure integer arithmetic (decimal-summed against 64-bit overflow at
    huge N), making U exact; the normal-approximation z uses the
    tie-corrected variance with the identical expression shape as the
    DuckDB twin, pinned with qround.
    """
    price = F.col("o_totalprice").cast("double")
    a = F.col("o_orderpriority") == TTEST_GROUP_A
    b = F.col("o_orderpriority") == TTEST_GROUP_B
    vals = (
        orders.filter(a | b)
        .groupBy(price.alias("v"))
        .agg(
            F.count(F.when(a, 1)).alias("ca"),
            F.count(F.when(b, 1)).alias("cb"),
        )
        .withColumn("t", F.col("ca") + F.col("cb"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(MW_BUCKET_WIDTH)))
    )
    ranked = bucketed_prefix(vals, "v", ("t",)).withColumn(
        "cum_lt", F.col("cum_t") - F.col("t")
    )
    big = "decimal(38,0)"
    agg = ranked.agg(
        F.sum(F.col("ca").cast(big)).cast("double").alias("n_a"),
        F.sum(F.col("cb").cast(big)).cast("double").alias("n_b"),
        F.sum(
            (
                F.col("ca")
                * (2 * F.col("cum_lt") + F.col("t") + 1)
            ).cast(big)
        )
        .cast("double")
        .alias("r2a"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(big)
        )
        .cast("double")
        .alias("ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u_a = (F.col("r2a") - na * (na + 1)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sig2 = (
        na * nb / F.lit(12.0)
        * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    z = (u_a - mu) / F.sqrt(sig2)
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        u_a.alias("u_a"),
        (na * nb - u_a).alias("u_b"),
        qround(z, 6).alias("z_score"),
    )


ACF_MAX_LAG = 7
ACF_REV_SCALE = 1_000_000.0


def autocorr_daily_revenue(orders: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Sample autocorrelation of the daily-revenue series at lags
    1..max_lag — the seasonality screen next to ewma_daily_revenue
    (weekly cycles show as a lag-7 peak):

        r_k = Σ_t (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)²

    over the date-ordered sequence of days present (the fixture has
    every calendar day; gaps would shift the lag alignment and belong to
    gapfill_daily_revenue's contract, not this one's).

    Scale: the daily frame is CALENDAR-BOUNDED — ~2.4k rows for the
    fixture's seven years at ANY corpus size — so the one unpartitioned
    lag window is over a schema-bounded frame, never data-sized (the
    gains_lift_table argument; the data-sized work is the single
    map-side-combined daily aggregate). Exactness: daily revenue is an
    exact decimal sum scaled by 1e-6 for DECIMAL(24,8) headroom in the
    deviation products; mean, deviations and the lag products run the
    identical IEEE expression shape in both engines; products are
    dsum-summed (order-free) and the final ratios qround-pinned.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (dsum(F.col("o_totalprice")) / F.lit(ACF_REV_SCALE)).alias("x")
    )
    mu = daily.agg(
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mu")).alias("dv")
    )
    w = Window.orderBy("day")
    lagged = dev.select(
        "dv",
        *[F.lag("dv", k).over(w).alias(f"l{k}") for k in range(1, max_lag + 1)],
    )
    agg = lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        dsum(F.col("dv") * F.col("dv")).alias("den"),
        *[
            dsum(F.col("dv") * F.col(f"l{k}")).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stack_args = ", ".join(
        f"{k}, r{k}" for k in range(1, max_lag + 1)
    )
    # a constant series has zero variance: ACF is undefined -> null
    # (ANSI mode would otherwise raise DIVIDE_BY_ZERO)
    den_ok = F.col("den") != F.lit(0.0)
    scored = agg.select(
        "n_days",
        *[
            F.when(den_ok, qround(F.col(f"num{k}") / F.col("den"), 6)).alias(
                f"r{k}"
            )
            for k in range(1, max_lag + 1)
        ],
    )
    return scored.select(
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, acf)"), "n_days"
    ).select(F.col("lag").cast("int").alias("lag"), "acf", "n_days")


AR_TOP_N = 40


def association_rules(
    lineitem: DataFrame,
    min_support: int = FI_MIN_SUPPORT,
    top_n: int = AR_TOP_N,
) -> DataFrame:
    """Directed association rules (antecedent → consequent) from the
    level-2 itemsets of :func:`frequent_itemset_pairs` — Apriori's rule
    stage (Agrawal & Srikant 1994, public):

        confidence(a→b) = support(a,b) / support(a)
        lift(a→b)       = confidence(a→b) / (support(b) / n_orders)

    Each undirected frequent pair yields both directions (their
    confidences differ; lift is symmetric). Same scale shape as the pair
    stage: the co-occurrence self-join is blocked on l_orderkey (bounded
    basket fanout — candidate pairs are O(orders), never quadratic in
    parts); item frequencies are part-sized broadcasts, the basket total
    a broadcast scalar. Rounded-confidence TakeOrdered with the rule as
    tiebreak (repo ordering convention).
    """
    b = lineitem.select("l_orderkey", "l_partkey").dropDuplicates(
        ["l_orderkey", "l_partkey"]
    )
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "support",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "support",
        )
    )
    item = b.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    n_orders = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ia = item.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_ant")
    )
    ic = item.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_con")
    )
    conf = F.col("support").cast("double") / F.col("n_ant").cast("double")
    lift = conf / (
        F.col("n_con").cast("double") / F.col("n_orders").cast("double")
    )
    return (
        directed.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("support").cast("long").alias("support"),
            qround(conf, 6).alias("confidence"),
            qround(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("confidence"), F.asc("antecedent"), F.asc("consequent"))
        .limit(top_n)
    )


def weekday_seasonality(orders: DataFrame) -> DataFrame:
    """Weekday seasonality profile of daily revenue — the decomposition
    companion to :func:`autocorr_daily_revenue` (a lag-7 ACF peak says
    "weekly cycle exists"; this says which weekdays carry it):

        index_w = mean(daily revenue | weekday = w) / mean(daily revenue)

    Same scale posture as the ACF: ONE data-sized map-side-combined daily
    aggregate; everything after runs on the calendar-bounded daily frame
    (≤ ~2.4k rows at any corpus size) with the overall mean as a
    broadcast scalar. ISO weekday numbering (1 = Monday). Exactness:
    exact decimal daily sums, identical IEEE mean/ratio shapes, qround
    pins.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("x")
    )
    overall = daily.agg(
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("mu")
    )
    wd = daily.groupBy((F.weekday("day") + 1).alias("weekday")).agg(
        F.count("*").cast("long").alias("n_days"),
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("wd_mean"),
    )
    return (
        wd.crossJoin(F.broadcast(overall))
        .select(
            F.col("weekday").cast("int").alias("weekday"),
            "n_days",
            qround(F.col("wd_mean"), 4).alias("mean_revenue"),
            qround(F.col("wd_mean") / F.col("mu"), 6).alias("seasonality_index"),
        )
        .orderBy("weekday")
    )


def share_of_total(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue, with
    the within-region rank — the classic OLAP share analysis
    (RATIO_TO_REPORT in warehouse SQL dialects, expressed here as a
    window over the aggregated frame).

    Scale shape: ONE data-sized aggregate (orders joined to the
    broadcast customer→nation→region dimension path, grouped by nation),
    then share/rank windows over the NATION-sized frame (25 rows at any
    corpus size) partitioned by region. Exact decimal revenue sums;
    share is an identical-shape IEEE ratio, qround-pinned.
    """
    dim = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    rev = (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    wsum = Window.partitionBy("r_name")
    wrank = Window.partitionBy("r_name").orderBy(
        F.desc("revenue"), F.asc("n_name")
    )
    # window total as an exact decimal sum: a float window sum's order
    # differs between engines (the dsum argument, applied over a frame)
    region_total = (
        F.sum(F.col("revenue").cast("decimal(24,8)")).over(wsum).cast("double")
    )
    return rev.select(
        F.col("r_name").alias("region_name"),
        F.col("n_name").alias("nation_name"),
        "revenue",
        qround(F.col("revenue") / region_total, 6).alias("share_in_region"),
        F.row_number().over(wrank).cast("int").alias("rank_in_region"),
    ).orderBy("region_name", "rank_in_region")


GINI_REV_SCALE = 1_000_000.0
GINI_BUCKET_WIDTH = 100_000.0


def gini_revenue(orders: DataFrame) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    inequality dial ("do 20% of customers carry 80% of revenue?") next
    to rfm_segments:

        G = 2·Σᵢ rankᵢ·xᵢ / (n·Σx) − (n+1)/n

    Rank-free at scale: ranks never materialise per customer. Tied
    revenue values contribute
    Σ_{i in tie} i = c·(2·cum_lt + c + 1)/2 regardless of intra-tie
    order, so the distinct-value frame (revenue → customer count) plus
    :func:`bucketed_prefix` (fixed-width buckets — bounded by
    the per-customer revenue RANGE, which TPC-H's fixed orders-per-
    customer distribution keeps corpus-size-independent) computes the
    exact rank-weighted sum with no data-sized sort. Revenue is scaled
    by 1e-6 before the rank products for DECIMAL(24,8) headroom (the
    autocorr convention).
    """
    percust = orders.groupBy("o_custkey").agg(
        (dsum(F.col("o_totalprice")) / F.lit(GINI_REV_SCALE)).alias("x")
    )
    vals = (
        percust.groupBy("x")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "bucket",
            F.floor(F.col("x") / F.lit(GINI_BUCKET_WIDTH / GINI_REV_SCALE)),
        )
    )
    ranked = bucketed_prefix(vals, "x", ("c",)).withColumn(
        "cum_lt", F.col("cum_c") - F.col("c")
    )
    c = F.col("c").cast("double")
    ranksum = c * (2 * F.col("cum_lt").cast("double") + c + 1) / F.lit(2.0)
    agg = ranked.agg(
        F.sum("c").cast("long").alias("n_customers"),
        dsum(F.col("x") * c).alias("total_x"),
        dsum(F.col("x") * ranksum).alias("s1"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("s1") / (n * F.col("total_x"))
        - (n + 1) / n
    )
    return agg.select(
        "n_customers",
        qround(F.col("total_x") * F.lit(GINI_REV_SCALE), 4).alias(
            "total_revenue"
        ),
        qround(gini, 6).alias("gini"),
    )


def shipping_latency_profile(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-to-ship latency distribution: days between ``o_orderdate``
    and each lineitem's ``l_shipdate``, as an exact bounded-domain
    histogram with cumulative shares — the operational-SLA read ("what
    fraction ships within a week?"), and an exact percentile surface
    (p50/p90/p99 are the rows where cum_share crosses the mark) with NO
    rank or global sort: the latency domain is CALENDAR-bounded (true
    TPC-H pins it to 1..121 days; the synthetic fixture's independent
    date columns widen it to the date-range span, a few thousand values
    — either way corpus-size-independent), so the post-join aggregate
    lands on a tiny frame at any corpus size.

    Scale shape: the orderkey equi-join of the two fact tables is the
    one data-sized cost (hash-partitioned both sides — the bucketed
    co-location candidate at 100 TB), then ONE map-side-combined
    aggregate onto the bounded day domain and a tiny ordered window.
    """
    j = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    )
    lat = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    hist = j.groupBy(lat.alias("latency_days")).agg(
        F.count("*").cast("long").alias("n")
    )
    totals = hist.agg(F.sum("n").alias("tot"))
    w = Window.orderBy("latency_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.crossJoin(F.broadcast(totals))
        .select(
            F.col("latency_days").cast("int").alias("latency_days"),
            "n",
            qround(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
                "share"
            ),
            qround(
                F.sum("n").over(w).cast("double") / F.col("tot").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("latency_days")
    )


BAND_DELTA = 10.0


def band_join_acctbal(
    customer: DataFrame, supplier: DataFrame, delta: float = BAND_DELTA
) -> DataFrame:
    """1-D band (inequality) join without a nested loop: customer and
    supplier pairs whose account balances differ by < ``delta`` — the
    financial-reconciliation shape ("candidate matches within a
    tolerance"). A naive theta join is a cartesian product; bucketing
    both sides by floor(balance/δ) and probing each supplier's bucket ±1
    turns it into an EQUI-join whose candidate set provably contains
    every true pair (two values within δ differ by ≤1 bucket), with the
    exact |a−b| < δ predicate as a post-join filter — the geo radius
    join's pattern on a 1-D financial axis.

    Output per market segment: pair count and mean absolute gap.
    Scale: one shuffle on the bucket key both sides (3× supplier
    expansion), bucket population is balance-distribution-bound —
    skew-safe for anything resembling uniform balances; one segment
    rollup after.
    """
    cb = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("ca"),
        F.floor(F.col("c_acctbal") / F.lit(delta)).alias("bucket"),
    )
    sb = supplier.select(
        "s_suppkey",
        F.col("s_acctbal").alias("sa"),
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / F.lit(delta)) - 1,
                F.floor(F.col("s_acctbal") / F.lit(delta)),
                F.floor(F.col("s_acctbal") / F.lit(delta)) + 1,
            )
        ).alias("bucket"),
    )
    pairs = cb.join(sb, "bucket").filter(
        F.abs(F.col("ca") - F.col("sa")) < F.lit(delta)
    )
    gap = F.abs(F.col("ca") - F.col("sa"))
    return (
        pairs.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (dsum(gap) / F.count("*").cast("double")).alias("_mg"),
        )
        .select(
            "c_mktsegment",
            "n_pairs",
            qround(F.col("_mg"), 6).alias("mean_gap"),
        )
        .orderBy("c_mktsegment")
    )


SEGMENT_PCTS = (0.25, 0.5, 0.75, 0.9)


def segment_percentiles(
    orders: DataFrame,
    customer: DataFrame,
    pcts: tuple[float, ...] = SEGMENT_PCTS,
) -> DataFrame:
    """Exact per-group percentiles (PERCENTILE_DISC semantics: the
    smallest value whose cumulative count reaches ⌈q·n⌉) of order value
    by market segment — the per-segment pricing profile. approx_percentile
    trades exactness for mergeability; this is the exact form, and it
    needs NO global sort: ONE segment-partitioned window ranks each
    segment independently (the shuffle key is the group — the same
    contract as any per-group rank), then an n-sized row filter picks the
    ⌈q·n⌉-th row per (segment, q).

    Skew note: segments are few and balanced here; a skewed group would
    take the rfm_segments_scaled route (histogram cutoffs) — this entry
    is the exact-verify twin of that pattern at per-group granularity.
    """
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select("c_mktsegment", F.col("o_totalprice").alias("v"))
    # row_number ties at equal v are broken arbitrarily, but the PICKED
    # value at any position inside a tie run is that run's v — the output
    # never exposes which row won, so the result is deterministic.
    # Explicit group-keyed repartition: the few-MB shuffle otherwise gets
    # AQE-coalesced to ONE post-shuffle partition, serializing every
    # per-segment sort in a single task (r14 measured 3.1 s exec, all
    # 1-task stages); hash on the window key satisfies the window's
    # required distribution so no second exchange is added, and group
    # cardinality (~5 segments) caps effective parallelism either way.
    target_p = orders.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy("c_mktsegment").orderBy("v")
    ranked = j.repartition(target_p, "c_mktsegment").select(
        "c_mktsegment",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("c_mktsegment")).alias("n"),
    )
    # ONE window pass: the previous per-q unionByName re-executed the
    # sort+window per branch (ReuseExchange shares only the shuffle).
    # Keep rows whose rank is ANY target ceil(q·n), then explode the
    # (q, target) panel on that tiny hit set — two q's landing on the
    # same rank emit two rows, exactly as the union form did.
    targets = [F.ceil(F.lit(q) * F.col("n").cast("double")) for q in pcts]
    hit_any = targets[0] == F.col("rn")
    for t in targets[1:]:
        hit_any = hit_any | (t == F.col("rn"))
    qpanel = F.array(
        *[
            F.struct(
                F.lit(q).alias("pct"),
                F.ceil(F.lit(q) * F.col("n").cast("double")).alias("t"),
            )
            for q in pcts
        ]
    )
    picks = (
        ranked.filter(hit_any)
        .select("c_mktsegment", "v", "rn", "n", F.explode(qpanel).alias("qt"))
        .filter(F.col("qt.t") == F.col("rn"))
        .select(
            "c_mktsegment",
            F.col("qt.pct").alias("pct"),
            F.col("v").alias("value"),
            F.col("n").cast("long").alias("n_orders"),
        )
    )
    return picks.orderBy("c_mktsegment", "pct")


SEGP_BUCKETS = 1024
SEGP_DOMAIN = QTP_DOMAIN  # o_totalprice domain; prod: first-pass sample


def segment_percentiles_scaled(
    orders: DataFrame,
    customer: DataFrame,
    pcts: tuple[float, ...] = SEGMENT_PCTS,
    n_buckets: int = SEGP_BUCKETS,
    domain: tuple[float, float] = SEGP_DOMAIN,
) -> DataFrame:
    """100 TB form of :func:`segment_percentiles` — identical output
    (same ⌈q·n⌉ PERCENTILE_DISC rank, same oracle), but NO per-group
    full-sort window. :func:`segment_percentiles` partitions one window
    by ~5 market segments, so at 100× each task sorts ~1/5 of the fact
    table; here :func:`histogram_quantiles` applies instead with the
    rank ⌈q·n⌉: pass 2 ranks ONLY the selected buckets (~n/n_buckets
    rows per group-bucket, shuffle key (segment, bucket) — unbounded
    fan-out, no bounded-cardinality sort key anywhere). Ties at equal v
    rank arbitrarily in BOTH forms and the picked VALUE at any in-tie
    position is the run's v, so the output is deterministic.
    """
    lo, hi = domain
    width = (hi - lo) / n_buckets
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select("c_mktsegment", F.col("o_totalprice").alias("v"))
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - lo) / width).cast("int")),
    )
    picked = histogram_quantiles(
        j,
        "c_mktsegment",
        bucket,
        ["v"],
        pcts,
        # the exact twin's rank: k = ceil(q·n) over doubles
        lambda q: F.ceil(F.lit(q) * F.col("n").cast("double")).cast("long"),
    ).select(
        "c_mktsegment",
        F.col("q").alias("pct"),
        F.col("v").alias("value"),
        F.col("n").alias("n_orders"),
    )
    return picked.orderBy("c_mktsegment", "pct")


ANOM_Z_THRESHOLD = 2.0


def weekday_adjusted_anomalies(
    orders: DataFrame, z_threshold: float = ANOM_Z_THRESHOLD
) -> DataFrame:
    """Seasonally-adjusted anomaly days: daily revenue minus the
    weekday's own mean (the :func:`weekday_seasonality` adjustment),
    z-scored against the residual spread — the alert list a plain
    z-score gets wrong on weekly-cyclic revenue (every Sunday looks
    anomalous if the baseline ignores weekday).

    Scale posture: one data-sized daily aggregate; weekday means,
    residual moments and the final filter all run on the
    calendar-bounded daily frame (the autocorr argument). Exactness:
    decimal daily sums, identical IEEE mean/variance/z shapes, qround
    pins; the z threshold compares qrounded values so both engines make
    the same cut.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("x")
    )
    wd = daily.groupBy((F.weekday("day") + 1).alias("weekday")).agg(
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("wd_mean")
    )
    resid = daily.withColumn("weekday", F.weekday("day") + 1).join(
        F.broadcast(wd), "weekday"
    ).select("day", "weekday", "x", (F.col("x") - F.col("wd_mean")).alias("r"))
    mom = resid.agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("r")).alias("sr"),
        dsum(F.col("r") * F.col("r") / F.lit(1e6)).alias("srr_m"),
    )
    n = F.col("n")
    mean_r = F.col("sr") / n
    var = (F.col("srr_m") * F.lit(1e6) - n * mean_r * mean_r) / (n - 1)
    z = (F.col("r") - mean_r) / F.sqrt(var)
    return (
        resid.crossJoin(F.broadcast(mom))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("weekday").cast("int").alias("weekday"),
            qround(F.col("x"), 4).alias("revenue"),
            qround(z, 6).alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) >= F.lit(z_threshold))
        .orderBy("day")
    )


DID_CUTOFF = "1999-01-01"


def did_promo_effect(
    lineitem: DataFrame, part: DataFrame, cutoff: str = DID_CUTOFF
) -> DataFrame:
    """Difference-in-differences: net-revenue-per-line shift of PROMO
    parts vs all other parts across a policy cutoff ship-date (the 2×2
    design of Card & Krueger 1994, public). Treated = p_type starting
    with 'PROMO' (the reference corpus has no experiment log; part type
    is the natural treatment flag, same predicate as TPC-H Q14).

        did = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    Plan shape: one lineitem↔part equi-join (part is ~1/7 of lineitem's
    row count — at 100 TB it shuffles on p_partkey and AQE picks the
    strategy; only p_partkey+p_type are read, so the scan is 2 columns),
    then ONE conditional aggregate over the joined frame — four
    dsum/count pairs gated by (treated, post) flags, no per-cell
    sub-plans and no second shuffle. Exact decimal sums (numeric.dsum)
    keep the cell means bit-identical to the DuckDB twin.
    """
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        lineitem.select("l_partkey", "l_shipdate", rev.alias("rev"))
        .join(
            part.select(
                "p_partkey",
                F.col("p_type").startswith("PROMO").alias("treated"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "treated",
            (F.col("l_shipdate") >= F.lit(cutoff).cast("timestamp")).alias("post"),
            "rev",
        )
    )

    def cell(t: bool, p: bool, what: str) -> Column:
        gate = (F.col("treated") == t) & (F.col("post") == p)
        if what == "n":
            return F.sum(F.when(gate, 1).otherwise(0)).cast("long")
        return dsum(F.when(gate, F.col("rev")).otherwise(F.lit(None)))

    agg = j.agg(
        cell(True, False, "n").alias("n_treated_pre"),
        cell(True, True, "n").alias("n_treated_post"),
        cell(False, False, "n").alias("n_control_pre"),
        cell(False, True, "n").alias("n_control_post"),
        cell(True, False, "s").alias("s_tp"),
        cell(True, True, "s").alias("s_tq"),
        cell(False, False, "s").alias("s_cp"),
        cell(False, True, "s").alias("s_cq"),
    )
    mu = {
        k: F.col(s) / F.col(n).cast("double")
        for k, s, n in (
            ("tp", "s_tp", "n_treated_pre"),
            ("tq", "s_tq", "n_treated_post"),
            ("cp", "s_cp", "n_control_pre"),
            ("cq", "s_cq", "n_control_post"),
        )
    }
    return agg.select(
        "n_treated_pre",
        "n_treated_post",
        "n_control_pre",
        "n_control_post",
        qround(mu["tp"], 4).alias("mu_treated_pre"),
        qround(mu["tq"], 4).alias("mu_treated_post"),
        qround(mu["cp"], 4).alias("mu_control_pre"),
        qround(mu["cq"], 4).alias("mu_control_post"),
        qround((mu["tq"] - mu["tp"]) - (mu["cq"] - mu["cp"]), 4).alias(
            "did_estimate"
        ),
    )


STL_HALF_WINDOW = 3  # centered 7-day moving-average trend


def seasonal_decompose_daily(
    orders: DataFrame, half_window: int = STL_HALF_WINDOW
) -> DataFrame:
    """Additive seasonal decomposition of daily revenue (classical
    moving-average method, Cleveland et al. STL's baseline — public):

        trend_d    = centered (2·h+1)-day calendar mean of revenue
        seasonal_w = mean over days of (revenue − trend) per weekday,
                     centered so the 7 components sum to 0
        residual_d = revenue − trend_d − seasonal_w(d)

    Trend uses a RANGE window over the day index (calendar-correct under
    gaps) and only emits where the full 2·h+1 days exist — the standard
    endpoint trim. Output is the 7-row weekday profile: component,
    support, and mean |residual| as the fit diagnostic.

    Scale: the daily aggregate reduces everything downstream to
    O(#days) rows — windows and weekday rollups run on that tiny frame;
    the only full-data pass is the first groupBy(day). Decimal window
    sums (numeric.DEC) keep the trend exact so both engines see
    identical doubles.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("x")
    )
    idx = F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.orderBy("day_idx")
        .rangeBetween(-half_window, half_window)
    )
    full = 2 * half_window + 1
    with_trend = (
        daily.withColumn("day_idx", idx)
        .withColumn("n_win", F.count("*").over(w))
        .withColumn(
            "trend",
            F.sum(F.col("x").cast(DEC)).over(w).cast("double")
            / F.lit(float(full)),
        )
        .filter(F.col("n_win") == full)
        .select(
            "day",
            "x",
            qround(F.col("trend"), 6).alias("trend"),
        )
        .withColumn("detr", F.col("x") - F.col("trend"))
    )
    raw = with_trend.groupBy((F.weekday("day") + 1).alias("weekday")).agg(
        F.count("*").cast("long").alias("n_days"),
        (dsum(F.col("detr")) / F.count("*").cast("double")).alias("s_raw"),
    )
    center = raw.agg(
        (dsum(F.col("s_raw")) / F.count("*").cast("double")).alias("s_mean")
    )
    seasonal = raw.crossJoin(F.broadcast(center)).select(
        "weekday",
        "n_days",
        qround(F.col("s_raw") - F.col("s_mean"), 6).alias("seasonal"),
    )
    resid = (
        with_trend.withColumn("weekday", F.weekday("day") + 1)
        .join(F.broadcast(seasonal), "weekday")
        .groupBy("weekday")
        .agg(
            (
                dsum(F.abs(F.col("detr") - F.col("seasonal")))
                / F.count("*").cast("double")
            ).alias("mar")
        )
    )
    return (
        seasonal.join(F.broadcast(resid), "weekday")
        .select(
            F.col("weekday").cast("int").alias("weekday"),
            "n_days",
            qround(F.col("seasonal"), 4).alias("seasonal"),
            qround(F.col("mar"), 4).alias("mean_abs_residual"),
        )
        .orderBy("weekday")
    )


KM_CENSOR = "2001-01-01"  # last orders after this are "still active"
KM_LN_SCALE = 1_000_000.0


def kaplan_meier_retention(orders: DataFrame, censor: str = KM_CENSOR) -> DataFrame:
    """Kaplan–Meier survival curve (Kaplan & Meier 1958, public) of
    customer lifetime — days from a customer's first to last order, with
    right censoring: a customer whose last order falls on/after the
    ``censor`` date is still active, so their lifetime is a lower bound
    and they leave the risk set without an event.

        S(t_i) = Π_{j ≤ i} (1 − d_j / n_j)

    with d_j = churn events at lifetime t_j and n_j = customers whose
    lifetime ≥ t_j (events + censored both hold risk until they exit).

    Scale: the one full-data pass is the per-customer min/max groupBy;
    everything after runs on the distinct-lifetime frame (≤ a few
    thousand rows — the unpartitioned cumulative window is O(#distinct
    lifetimes), same tiny-frame convention as the daily-revenue series).
    The cumulative product is a BIGINT cumsum of per-step
    floor(ln(1−d/n)·1e6 + 0.5) — quantize-then-sum, so float summation
    order can't diverge between engines (corpus.tfidf convention).
    """
    cust = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"), F.max("o_orderdate").alias("last_o")
    )
    per = cust.select(
        F.datediff(F.to_date("last_o"), F.to_date("first_o")).alias("t"),
        (F.to_date("last_o") < F.lit(censor).cast("date"))
        .cast("int")
        .alias("event"),
    )
    by_t = per.groupBy("t").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.count("*").cast("long").alias("n_exit"),
    )
    total = by_t.agg(F.sum("n_exit").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("n_exit").over(w_prev), F.lit(0)),
        )
        .filter(F.col("d_events") > 0)
    )
    frac = F.lit(1.0) - F.col("d_events").cast("double") / F.col("n_risk").cast(
        "double"
    )
    q = F.when(
        F.col("d_events") < F.col("n_risk"),
        F.floor(F.log(frac) * F.lit(KM_LN_SCALE) + F.lit(0.5)).cast("long"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    steps = at_risk.withColumn("q", q)
    return (
        steps.withColumn("all_dead", F.max(F.col("q").isNull().cast("int")).over(w_cum))
        .withColumn("lnsum", F.sum("q").over(w_cum))
        .select(
            F.col("t").cast("int").alias("t_days"),
            "n_risk",
            "d_events",
            F.when(F.col("all_dead") == 1, F.lit(0.0))
            .otherwise(
                qround(F.exp(F.col("lnsum").cast("double") / F.lit(KM_LN_SCALE)), 6)
            )
            .alias("survival"),
        )
        .orderBy("t_days")
    )


NA_SCALE = 1e9  # per-step hazard quantum (quantize-then-cumsum convention)


def nelson_aalen_hazard(orders: DataFrame, censor: str = KM_CENSOR) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator (Nelson 1972 / Aalen
    1978, public) on the same right-censored customer-lifetime data as
    :func:`kaplan_meier_retention` — the additive twin of KM's product
    (Ĥ(t) = Σ_{j≤t} d_j/n_j, with variance Σ d_j/n_j²), preferred when
    hazards are the modelling target (H is unbiased where ln S is not).

    Same scale posture as KM: one per-customer min/max pass, then the
    distinct-lifetime frame (calendar-bounded). Per-step hazard terms
    are quantized to 1e-9 integers before the cumulative sum, so the
    running totals are order- and engine-exact.
    """
    cust = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"), F.max("o_orderdate").alias("last_o")
    )
    per = cust.select(
        F.datediff(F.to_date("last_o"), F.to_date("first_o")).alias("t"),
        (F.to_date("last_o") < F.lit(censor).cast("date")).cast("int").alias(
            "event"
        ),
    )
    by_t = per.groupBy("t").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.count("*").cast("long").alias("n_exit"),
    )
    total = by_t.agg(F.sum("n_exit").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("n_exit").over(w_prev), F.lit(0)),
        )
        .filter(F.col("d_events") > 0)
    )
    d, n = F.col("d_events").cast("double"), F.col("n_risk").cast("double")
    qh = F.floor(d / n * F.lit(NA_SCALE) + F.lit(0.5)).cast("long")
    qv = F.floor(d / (n * n) * F.lit(NA_SCALE) + F.lit(0.5)).cast("long")
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        at_risk.withColumn("hs", F.sum(qh).over(w_cum))
        .withColumn("vs", F.sum(qv).over(w_cum))
        .select(
            F.col("t").cast("int").alias("t_days"),
            "n_risk",
            "d_events",
            qround(F.col("hs").cast("double") / F.lit(NA_SCALE), 6).alias(
                "cum_hazard"
            ),
            qround(F.col("vs").cast("double") / F.lit(NA_SCALE), 8).alias(
                "hazard_var"
            ),
        )
        .orderBy("t_days")
    )


HOLT_ALPHA = 0.5  # level smoothing — exact binary fraction
HOLT_BETA = 0.25  # trend smoothing — exact binary fraction
HOLT_Q = 1_000_000.0  # per-step state quantum (6 dp)
HOLT_HORIZONS = (7, 28)


def _holt_q(x: float) -> float:
    import math

    return math.floor(x * HOLT_Q + 0.5) / HOLT_Q


def holt_linear_forecast(
    orders: DataFrame,
    customer: DataFrame,
    alpha: float = HOLT_ALPHA,
    beta: float = HOLT_BETA,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957, public) of
    daily revenue per market segment, with h-step-ahead forecasts:

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        ŷ_{T+h} = l_T + h·b_T   (h in weeks)

    Init: l_1 = x_1, b_1 = x_2 − x_1 (textbook). The recursion is
    inherently sequential per series, so this is the ``applyInPandas``
    pattern: the weekly aggregate (the only full-data pass) happens in
    the JVM with exact decimal sums, then one Arrow batch per segment
    runs the scan in pandas. Scale: parallelism = #series — five
    segments here, but the shape is the production one (thousands of
    store/SKU series ⇒ thousands of independent tasks; state never
    leaves the executor).

    Determinism: level and trend are quantized to 1e-6 after every step
    (floor(x·1e6+0.5)/1e6) in BOTH engines, and α, β are exact binary
    fractions — per-step IEEE ops on identical inputs give identical
    doubles, so the DuckDB recursive-CTE twin reproduces the state
    trajectory bit-for-bit.
    """
    weekly = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("x"))
    )

    def fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values("week").reset_index(drop=True)
        seg = pdf["segment"].iloc[0]
        xs = pdf["x"].tolist()
        if len(xs) < 2:
            return pd.DataFrame(
                columns=["segment", "n_weeks", "level", "trend"]
                + [f"forecast_{h}" for h in HOLT_HORIZONS]
            )
        lvl = _holt_q(xs[0])
        trd = _holt_q(xs[1] - xs[0])
        for x in xs[1:]:
            prev = lvl
            lvl = _holt_q(alpha * x + (1.0 - alpha) * (lvl + trd))
            trd = _holt_q(beta * (lvl - prev) + (1.0 - beta) * trd)
        row = {
            "segment": seg,
            "n_weeks": len(xs),
            "level": _holt_q(lvl),
            "trend": _holt_q(trd),
        }
        for h in HOLT_HORIZONS:
            row[f"forecast_{h}"] = _holt_q(lvl + h * trd)
        return pd.DataFrame([row])

    schema = (
        "segment string, n_weeks long, level double, trend double, "
        + ", ".join(f"forecast_{h} double" for h in HOLT_HORIZONS)
    )
    return weekly.groupBy("segment").applyInPandas(fit, schema=schema).orderBy("segment")


BOOT_B = 100  # bootstrap replicates
BOOT_Q = 0.025  # two-sided CI tail mass

# Poisson(1) inverse-CDF cut points: cum_k = e^-1 · Σ_{i≤k} 1/i!.
# Computed once here and embedded as the SAME repr() literals in the Spark
# plan and the DuckDB twin — shortest-roundtrip reprs parse to identical
# doubles on both engines, so the draw w(u) is bit-deterministic.
def _poisson1_cum(kmax: int = 8) -> tuple[float, ...]:
    import math

    e = math.exp(-1.0)
    cum, fact, out = 0.0, 1.0, []
    for k in range(kmax):
        if k > 0:
            fact *= k
        cum += e / fact
        out.append(cum)
    return tuple(out)


POISSON1_CUM = _poisson1_cum()


def bootstrap_ci_revenue(orders: DataFrame, b_reps: int = BOOT_B) -> DataFrame:
    """Poisson bootstrap (Hanley & MacGibbon 2006 / Chamandy et al. 2012,
    public) confidence interval for mean order revenue: each replicate b
    reweights every order by w ~ Poisson(1) drawn from a hash of
    (orderkey, b), so the whole bootstrap is ONE deterministic pass —
    no resampling shuffle, no RNG state. This is *the* way to bootstrap
    at 100 TB: explode ×B is map-local, the replicate sums are a single
    map-side-combined aggregate whose shuffle carries B rows per map
    partition, and the CI order statistics run on a B-row frame.

        u(o,b)  = md5-lane(o_orderkey ‖ ':' ‖ b) / 2³²    ∈ [0,1)
        w(o,b)  = Poisson(1) inverse CDF at u  (cut points above)
        m_b     = Σ w·x / Σ w
        CI      = nearest-rank 2.5 % / 97.5 % order statistics of {m_b}

    Exact decimal sums per replicate; the md5 lane is the engine-shared
    hash (operators/text.py:md5_prefix_value convention).

    Tail note (ADVICE r8): the inverse CDF is truncated at
    kmax = len(POISSON1_CUM) — the ~1e-6 upper-tail mass collapses onto
    weight kmax. The truncation is mirrored verbatim in the SQL twin, so
    it is a (documented, negligible) shared bias, not an engine skew;
    a replicate with Σw = 0 yields NULL m on both engines (NULLIF).
    """
    from ..tables import spread
    from .text import md5_prefix_value

    # the ×B explode amplifies whatever parallelism the scan produced —
    # spread() first so the md5 draw work fans across the cluster
    x = spread(
        orders.select(F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("x"))
    )
    rep = x.select(
        "okey", "x", F.explode(F.sequence(F.lit(0), F.lit(b_reps - 1))).alias("b")
    )
    u = md5_prefix_value(
        F.concat_ws(":", F.col("okey").cast("string"), F.col("b").cast("string")), 8
    ).cast("double") / F.lit(4294967296.0)
    w: Column = F.lit(len(POISSON1_CUM))
    for k in reversed(range(len(POISSON1_CUM))):
        w = F.when(u < F.lit(POISSON1_CUM[k]), F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("w", w.cast("long"))
        .groupBy("b")
        .agg(
            # NULLIF guard (ADVICE r8): a replicate whose every weight
            # drew 0 (probability ~e^{-n}, impossible at any real n but
            # a contract hole) must yield NULL m on BOTH engines rather
            # than Spark-NULL vs DuckDB-NaN
            (
                dsum(F.col("w").cast("double") * F.col("x"))
                / F.nullif(F.sum("w"), F.lit(0)).cast("double")
            ).alias("m")
        )
    )
    import math as _m

    wm = Window.orderBy("m")
    ranked = means.withColumn("rk", F.row_number().over(wm))
    lo_rk = max(1, _m.ceil(BOOT_Q * b_reps))
    hi_rk = _m.ceil((1.0 - BOOT_Q) * b_reps)
    stats = ranked.agg(
        F.count("*").cast("long").alias("b_reps"),
        (dsum(F.col("m")) / F.count("*").cast("double")).alias("boot_mean"),
        dsum(F.col("m") * F.col("m")).alias("smm"),
        F.max(F.when(F.col("rk") == lo_rk, F.col("m"))).alias("ci_lo_raw"),
        F.max(F.when(F.col("rk") == hi_rk, F.col("m"))).alias("ci_hi_raw"),
    )
    point = orders.agg(
        F.count("*").cast("long").alias("n_orders"),
        (dsum(F.col("o_totalprice")) / F.count("*").cast("double")).alias("pm"),
    )
    nb = F.col("b_reps").cast("double")
    se = F.sqrt(
        (F.col("smm") - nb * F.col("boot_mean") * F.col("boot_mean")) / (nb - 1)
    )
    return stats.crossJoin(F.broadcast(point)).select(
        "n_orders",
        "b_reps",
        qround(F.col("pm"), 4).alias("point_mean"),
        qround(F.col("boot_mean"), 4).alias("boot_mean"),
        qround(se, 6).alias("se"),
        qround(F.col("ci_lo_raw"), 4).alias("ci_lo"),
        qround(F.col("ci_hi_raw"), 4).alias("ci_hi"),
    )


BACKTEST_SEASON = 7


def forecast_backtest(orders: DataFrame, season: int = BACKTEST_SEASON) -> DataFrame:
    """Forecast backtest on daily revenue: one-step-ahead *naive*
    (ŷ_t = y_{t-1}) vs *seasonal-naive* (ŷ_t = y_{t-season}) — the two
    baselines every forecasting study must beat (Hyndman & Athanasopoulos,
    fpp3, public) — scored with MAE / MAPE / RMSE per method over the
    days where BOTH forecasts exist (lag alignment, calendar-correct:
    lags are taken on the day index via a RANGE window so a data gap
    yields no forecast rather than a wrong-day one).

    Scale: one full-data pass (the daily aggregate), then the O(#days)
    frame. Exact decimal error sums; the squared-error lane downscales
    by 1e6 first (revenue² would overflow DECIMAL(24,8)'s integer
    digits at sf≥1 — the autocorr convention).
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("x")
    )
    idx = F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    d = daily.withColumn("day_idx", idx)

    def lag_exact(n: int, name: str):
        # RANGE window [-n, -n]: the value exactly n calendar days back
        w = Window.orderBy("day_idx").rangeBetween(-n, -n)
        return F.max("x").over(w).alias(name)

    aligned = d.select(
        "day", "x", lag_exact(1, "f_naive"), lag_exact(season, "f_seasonal")
    ).filter(F.col("f_naive").isNotNull() & F.col("f_seasonal").isNotNull())

    def method(fcol: str, name: str) -> DataFrame:
        err = F.col("x") - F.col(fcol)
        return aligned.agg(
            F.lit(name).alias("method"),
            F.count("*").cast("long").alias("n_days"),
            (dsum(F.abs(err)) / F.count("*").cast("double")).alias("mae_raw"),
            (
                # zero-revenue-day guard (ADVICE r8): without the when(),
                # Spark's non-ANSI division NULLs the term (silently
                # dropped from dsum) while DuckDB floats it to inf — the
                # explicit guard makes BOTH engines drop x=0 days from
                # the MAPE numerator identically (n_days still counts
                # them; no such day exists in the fixtures, this pins
                # the contract)
                dsum(F.when(F.col("x") != 0, F.abs(err) / F.col("x")))
                / F.count("*").cast("double")
            ).alias("mape_raw"),
            (
                dsum(err * err / F.lit(1e6)) / F.count("*").cast("double")
            ).alias("mse_m"),
        )

    out = method("f_naive", "naive").unionByName(method("f_seasonal", "seasonal_naive"))
    return out.select(
        "method",
        "n_days",
        qround(F.col("mae_raw"), 4).alias("mae"),
        qround(F.col("mape_raw"), 6).alias("mape"),
        qround(F.sqrt(F.col("mse_m") * F.lit(1e6)), 4).alias("rmse"),
    ).orderBy("method")


HAMPEL_HALF = 3  # ±3 days -> 7-point window
HAMPEL_K = 3.0
HAMPEL_C = 1.4826  # Gaussian MAD consistency constant


def hampel_outlier_days(
    orders: DataFrame, half: int = HAMPEL_HALF, k: float = HAMPEL_K
) -> DataFrame:
    """Hampel filter (Hampel 1974, public) on daily revenue: a day is an
    outlier when it deviates from the centered rolling MEDIAN by more
    than k·1.4826·MAD of its window — the robust alternative to the
    rolling-zscore detector (one wild day cannot drag its own threshold,
    which mean/stddev filters suffer from).

    Rolling exact medians come from a RANGE-windowed collect_list +
    array_sort (JVM higher-order fns, no UDF) over the O(#days) daily
    frame, full 2·half+1 calendar windows only. MAD = median of absolute
    deviations from the window median, same list. Everything is exact
    arithmetic on decimal-summed daily values — no quantization needed
    until the output edge.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("x")
    )
    idx = F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    w = Window.orderBy("day_idx").rangeBetween(-half, half)
    full = 2 * half + 1
    mid = half + 1  # 1-based middle of a sorted full window
    arr = F.array_sort(F.collect_list("x").over(w))
    with_med = (
        daily.withColumn("day_idx", idx)
        .withColumn("win", arr)
        .filter(F.size("win") == full)
        .withColumn("med", F.element_at("win", mid))
        .withColumn(
            "mad",
            F.element_at(
                F.array_sort(
                    F.transform(F.col("win"), lambda v: F.abs(v - F.col("med")))
                ),
                mid,
            ),
        )
    )
    dev = F.abs(F.col("x") - F.col("med"))
    thresh = F.lit(k) * F.lit(HAMPEL_C) * F.col("mad")
    return (
        with_med.filter(dev > thresh)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            qround(F.col("x"), 4).alias("revenue"),
            qround(F.col("med"), 4).alias("window_median"),
            qround(F.col("mad"), 4).alias("window_mad"),
            qround(dev, 4).alias("abs_deviation"),
        )
        .orderBy("day")
    )


LTV_MAX_AGE_MONTHS = 12


def cohort_ltv(orders: DataFrame, max_age: int = LTV_MAX_AGE_MONTHS) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month; for each cohort and month-age 0..max_age, the cumulative
    revenue per cohort customer — the revenue companion of the
    activity-based cohort_retention triangle (growth-analytics standard).

        ltv(c, a) = Σ_{age ≤ a} revenue(c, age) / |cohort c|

    Month age is exact calendar months (months_between on month
    truncations — integer by construction, same value both engines).
    One orders pass keyed by customer for the cohort assignment (window
    min), one (cohort × age) aggregate, then the cumulative window runs
    on the cohort×age grid. Decimal-exact sums; per-customer division
    at the output edge.
    """
    w_first = Window.partitionBy("o_custkey")
    base = orders.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.col("o_totalprice").alias("rev"),
    ).withColumn("cohort_m", F.min("m").over(w_first))
    aged = base.select(
        F.date_format("cohort_m", "yyyy-MM").alias("cohort"),
        F.months_between(F.col("m"), F.col("cohort_m")).cast("int").alias("age"),
        "rev",
        "o_custkey",
    ).filter(F.col("age") <= max_age)
    sizes = (
        base.select("o_custkey", "cohort_m")
        .distinct()
        .groupBy(F.date_format("cohort_m", "yyyy-MM").alias("cohort"))
        .agg(F.count("*").alias("n_customers"))
    )
    grid = aged.groupBy("cohort", "age").agg(dsum(F.col("rev")).alias("rev_m"))
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn("cum_rev", F.sum(F.col("rev_m").cast(DEC)).over(w_cum).cast("double"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("age").cast("int").alias("age_months"),
            F.col("n_customers").cast("long").alias("n_customers"),
            qround(F.col("cum_rev") / F.col("n_customers").cast("double"), 4).alias(
                "cum_ltv"
            ),
        )
        .orderBy("cohort", "age_months")
    )


BRIDGE_Y1, BRIDGE_Y2 = 1997, 1998


def revenue_bridge(
    lineitem: DataFrame, part: DataFrame, y1: int = BRIDGE_Y1, y2: int = BRIDGE_Y2
) -> DataFrame:
    """Period-over-period revenue bridge per brand: the FP&A waterfall
    that splits Δrevenue into a VOLUME effect (at old prices) and a
    PRICE effect (at new volumes) — the Laspeyres/Paasche decomposition
    identity (public index-number theory):

        Δr = r₂ − r₁ = (q₂ − q₁)·p̄₁  +  (p̄₂ − p̄₁)·q₂      (exact)

    with p̄ = revenue / quantity per period. One lineitem⋈part join and
    ONE conditional aggregate per brand (both ship-years in the same
    pass — no per-period sub-plans); brands present in both periods
    only. dsum-exact numerators keep the identity exact to the quantum.
    """
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    yr = F.year("l_shipdate")
    j = lineitem.join(
        part.select("p_partkey", "p_brand"),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        yr.alias("y"),
        F.col("l_quantity").alias("q"),
        rev.alias("r"),
    )

    def per(y: int, col: str, what: str):
        gate = F.col("y") == y
        src = F.when(gate, F.col(col))
        return dsum(src).alias(what)

    agg = (
        j.filter(F.col("y").isin(y1, y2))
        .groupBy("p_brand")
        .agg(
            per(y1, "q", "q1"),
            per(y2, "q", "q2"),
            per(y1, "r", "r1"),
            per(y2, "r", "r2"),
        )
        .filter(
            F.col("q1").isNotNull()
            & F.col("q2").isNotNull()
            & (F.col("q1") > 0)
            & (F.col("q2") > 0)
        )
    )
    p1 = F.col("r1") / F.col("q1")
    p2 = F.col("r2") / F.col("q2")
    return agg.select(
        "p_brand",
        qround(F.col("r1"), 4).alias("rev_y1"),
        qround(F.col("r2"), 4).alias("rev_y2"),
        qround(F.col("r2") - F.col("r1"), 4).alias("delta"),
        qround((F.col("q2") - F.col("q1")) * p1, 4).alias("volume_effect"),
        qround((p2 - p1) * F.col("q2"), 4).alias("price_effect"),
    ).orderBy("p_brand")


WPCT_QS = (0.25, 0.5, 0.9)


def weighted_percentiles_by_brand(
    lineitem: DataFrame, part: DataFrame, pcts: tuple[float, ...] = WPCT_QS
) -> DataFrame:
    """Weighted PERCENTILE_DISC per brand: the smallest line price whose
    cumulative QUANTITY reaches q·W — the survey-statistics form (each
    row counts by its weight, not once; unweighted percentiles misstate
    the price a typical *unit* trades at).

    One brand-partitioned cumulative window (shuffle key = the group,
    segment_percentiles' contract); the pick per (brand, q) is a
    conditional min over the windowed frame — no per-q sub-plans. At
    equal prices the crossing lands inside the tie run and the picked
    VALUE is the run's price, so intra-run order cannot matter.
    Cumulative weights are exact decimal sums cast at the compare edge.
    """
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("p_brand", F.col("l_extendedprice").alias("v"), F.col("l_quantity").alias("wt"))
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("p_brand")
    # Explicit group-keyed repartition: AQE otherwise coalesces the
    # ~25-brand shuffle to 6 post-shuffle partitions (r14 measured), and
    # the hash partitioning satisfies the window's distribution so no
    # extra exchange appears. Group cardinality caps parallelism by spec.
    target_p = lineitem.sparkSession.sparkContext.defaultParallelism
    cum = j.repartition(target_p, "p_brand").select(
        "p_brand",
        "v",
        F.sum(F.col("wt").cast(DEC)).over(w_cum).cast("double").alias("cw"),
        F.sum(F.col("wt").cast(DEC)).over(w_tot).cast("double").alias("tw"),
    )
    picks = [
        F.min(
            F.when(F.col("cw") >= F.lit(q) * F.col("tw"), F.col("v"))
        ).alias(f"p{int(q * 100)}")
        for q in pcts
    ]
    agg = cum.groupBy("p_brand").agg(F.max("tw").alias("total_weight"), *picks)
    # melt the 25-row wide agg with ONE explode instead of a per-q
    # unionByName: each union branch re-executed the full sort + window
    # + aggregate over the fact table (ReuseExchange shares only the
    # shuffle files), so the heavy cumulative window ran |pcts| times
    qpanel = F.array(
        *[
            F.struct(
                F.lit(q).alias("pct"), F.col(f"p{int(q * 100)}").alias("value")
            )
            for q in pcts
        ]
    )
    out_rows = agg.select(
        "p_brand", F.explode(qpanel).alias("s"), "total_weight"
    ).select(
        "p_brand",
        F.col("s.pct").alias("pct"),
        F.col("s.value").alias("value"),
        qround(F.col("total_weight"), 4).alias("total_weight"),
    )
    return out_rows.orderBy("p_brand", "pct")


WPS_BUCKETS = 1024
WPS_DOMAIN = (900.0, 105000.0)  # l_extendedprice domain; prod: sample pass


def weighted_percentiles_by_brand_scaled(
    lineitem: DataFrame,
    part: DataFrame,
    pcts: tuple[float, ...] = WPCT_QS,
    n_buckets: int = WPS_BUCKETS,
    domain: tuple[float, float] = WPS_DOMAIN,
) -> DataFrame:
    """100 TB form of :func:`weighted_percentiles_by_brand` — identical
    output (same crossing rule, same oracle) with the per-brand
    cumulative-QUANTITY window replaced by histogram narrowing. The
    exact twin partitions a running-sum window by ~25 brands, so each
    task sorts ~1/25 of the fact table at any scale; here pass 1 is a
    (brand, value-bucket) weight aggregate (exact DECIMAL partial sums,
    map-side combined, histogram-sized output), the crossing bucket per
    (brand, q) is located in the cumulative bucket weights, and pass 2
    runs the running sum ONLY inside selected buckets (shuffle key
    (brand, bucket)). Exactness: DECIMAL sums are associative, bucketing
    is monotone in v and equal values share a bucket, so
    global cum weight at a row = bucket-prefix DECIMAL + in-bucket
    running DECIMAL — the identical exact decimal the twin computes —
    and the double-cast compare ``cw >= q·tw`` picks the identical
    crossing value (ties at equal v expose only the run's v, as in the
    twin).
    """
    lo, hi = domain
    width = (hi - lo) / n_buckets
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand", F.col("l_extendedprice").alias("v"), F.col("l_quantity").alias("wt")
    )
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - lo) / width).cast("int")),
    )
    hist = j.groupBy("p_brand", bucket.alias("bucket")).agg(
        F.sum(F.col("wt").cast(DEC)).alias("bw")
    )
    wb = (
        Window.partitionBy("p_brand")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = Window.partitionBy("p_brand")
    zero = F.lit(0).cast("decimal(34,8)")
    # histogram-sized (≤ brands × n_buckets rows) — materialize once
    cum = hist.select(
        "p_brand",
        "bucket",
        "bw",
        F.coalesce(F.sum("bw").over(wb), zero).alias("cum_prev"),
        F.sum("bw").over(wn).cast("double").alias("tw"),
    ).localCheckpoint()
    sels = []
    for q in pcts:
        th = F.lit(q) * F.col("tw")  # the twin's double threshold q·tw
        sels.append(
            cum.filter(
                (F.col("cum_prev").cast("double") < th)
                & ((F.col("cum_prev") + F.col("bw")).cast("double") >= th)
            ).select(
                "p_brand",
                F.lit(q).alias("pct"),
                "bucket",
                "cum_prev",
                th.alias("th"),
                qround(F.col("tw"), 4).alias("total_weight"),
            )
        )
    sel = sels[0]
    for s in sels[1:]:
        sel = sel.unionByName(s)
    wanted = sel.select("p_brand", "bucket").distinct()
    narrowed = j.select("p_brand", "v", "wt", bucket.alias("bucket")).join(
        F.broadcast(wanted), ["p_brand", "bucket"]
    )
    wl = (
        Window.partitionBy("p_brand", "bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = narrowed.withColumn("lcw", F.sum(F.col("wt").cast(DEC)).over(wl))
    picked = (
        local.join(F.broadcast(sel), ["p_brand", "bucket"])
        .filter((F.col("cum_prev") + F.col("lcw")).cast("double") >= F.col("th"))
        .groupBy("p_brand", "pct")
        .agg(
            F.min("v").alias("value"),
            F.max("total_weight").alias("total_weight"),
        )
    )
    return picked.select("p_brand", "pct", "value", "total_weight").orderBy(
        "p_brand", "pct"
    )


def new_vs_returning_monthly(orders: DataFrame) -> DataFrame:
    """Monthly customer mix: how many purchasers each month are NEW
    (first-ever order that month) vs RETURNING — the BI staple behind
    every growth dashboard (acquisition vs retention volume).

    One orders pass keyed by customer (window min for the first-order
    month), then a month-sized rollup. A customer counts once per month
    they purchased in (distinct within month).
    """
    w = Window.partitionBy("o_custkey")
    base = orders.select(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).withColumn("first_m", F.min("m").over(w))
    per = base.dropDuplicates(["o_custkey", "m"]).select(
        F.date_format("m", "yyyy-MM").alias("month"),
        (F.col("m") == F.col("first_m")).cast("int").alias("is_new"),
    )
    return (
        per.groupBy("month")
        .agg(
            F.sum("is_new").cast("long").alias("new_customers"),
            F.sum(F.lit(1) - F.col("is_new")).cast("long").alias("returning_customers"),
        )
        .select(
            "month",
            "new_customers",
            "returning_customers",
            qround(
                F.col("new_customers").cast("double")
                / (F.col("new_customers") + F.col("returning_customers")).cast("double"),
                6,
            ).alias("new_share"),
        )
        .orderBy("month")
    )


PARETO_SHARE = 0.8


def pareto_customers_by_region(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    share: float = PARETO_SHARE,
) -> DataFrame:
    """Pareto concentration per region: the smallest number of customers
    whose revenue covers ``share`` of the region's total (the "80/20"
    readout; Gini's rank-free twin `gini_revenue` gives the coefficient,
    this gives the actionable head-count).

    Dims broadcast; revenue-per-customer is the one fact-sized
    aggregate; ranking and the cumulative crossing run per region
    (group-partitioned windows, segment_percentiles' contract). The pick
    is min rank where cumulative ≥ share·total — exact decimal cumsums,
    crossing compared on identical doubles. Customer-key tiebreak on
    equal revenues keeps ranks engine-stable.
    """
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("c_custkey").alias("cust"))
        .agg(dsum(F.col("o_totalprice")).alias("crev"))
    )
    w_rank = Window.partitionBy("region").orderBy(F.desc("crev"), F.asc("cust"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy("region")
    ranked = rev.select(
        "region",
        F.row_number().over(w_rank).alias("rk"),
        F.sum(F.col("crev").cast(DEC)).over(w_cum).cast("double").alias("cum"),
        F.sum(F.col("crev").cast(DEC)).over(w_tot).cast("double").alias("tot"),
        F.count("*").over(w_tot).alias("n_customers"),
    )
    hit = ranked.filter(F.col("cum") >= F.lit(share) * F.col("tot"))
    return (
        hit.groupBy("region")
        .agg(
            F.max("n_customers").cast("long").alias("n_customers"),
            F.min("rk").cast("long").alias("n_top"),
            F.max("tot").alias("total_revenue"),
        )
        .select(
            "region",
            "n_customers",
            "n_top",
            qround(
                F.col("n_top").cast("double") / F.col("n_customers").cast("double"), 6
            ).alias("top_fraction"),
            qround(F.col("total_revenue"), 4).alias("total_revenue"),
        )
        .orderBy("region")
    )


IPW_STRATA_COL = "p_brand"


def ipw_treatment_effect(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Inverse-propensity-weighted (Hájek/Horvitz–Thompson, public
    textbook causal inference — Imbens & Rubin 2015) average treatment
    effect of PROMO part type on net line revenue, with EXACT stratified
    propensities: e(s) = treated fraction within each p_brand stratum.
    Complements :func:`did_promo_effect` (the other identification
    strategy on the same natural treatment flag).

        μ₁ = Σ_i t·y/e(s_i) / Σ_i t/e(s_i)      (and symmetrically μ₀)
        ATE = μ₁ − μ₀

    Because e is stratum-constant, every per-row term collapses to the
    STRATUM level: one lineitem↔part join, one (brand)-keyed aggregate
    (map-side combined; ~25 rows out), then the IPW sums run on the
    brand frame. Strata violating positivity (no treated or no control
    rows — e ∈ {0,1}) are dropped and counted, the standard overlap
    trim. Per-stratum weighted terms are quantized to DECIMAL(24,8)
    before the cross-stratum sum, so the estimate is order- and
    engine-insensitive.
    """
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # spread(): broadcast join + stratum partial aggregate otherwise fuse
    # into ONE stage on the single-row-group scan's one task
    lineitem = spread(
        lineitem.select("l_partkey", "l_extendedprice", "l_discount")
    )
    j = lineitem.join(
        F.broadcast(
            part.select(
                "p_partkey",
                F.col(IPW_STRATA_COL).alias("stratum"),
                F.col("p_type").startswith("PROMO").alias("treated"),
            )
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("stratum", "treated", rev.alias("y"))
    strata = j.groupBy("stratum").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("nt"),
        dsum(F.when(F.col("treated"), F.col("y"))).alias("sy_t"),
        dsum(F.when(~F.col("treated"), F.col("y"))).alias("sy_c"),
    )
    e = F.col("nt").cast("double") / F.col("n").cast("double")
    used = strata.filter((F.col("nt") > 0) & (F.col("nt") < F.col("n"))).select(
        "n",
        "nt",
        (F.col("sy_t") / e).alias("w1"),
        (F.col("nt").cast("double") / e).alias("d1"),
        (F.col("sy_c") / (F.lit(1.0) - e)).alias("w0"),
        ((F.col("n") - F.col("nt")).cast("double") / (F.lit(1.0) - e)).alias("d0"),
        "sy_t",
        "sy_c",
    )
    counts = strata.agg(
        F.count("*").cast("long").alias("n_strata_total"),
        F.sum(
            F.when((F.col("nt") > 0) & (F.col("nt") < F.col("n")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_strata_used"),
    )
    agg = used.agg(
        F.sum("nt").cast("long").alias("n_treated"),
        F.sum(F.col("n") - F.col("nt")).cast("long").alias("n_control"),
        dsum(F.col("w1")).alias("sw1"),
        dsum(F.col("d1")).alias("sd1"),
        dsum(F.col("w0")).alias("sw0"),
        dsum(F.col("d0")).alias("sd0"),
        dsum(F.col("sy_t")).alias("tot_y_t"),
        dsum(F.col("sy_c")).alias("tot_y_c"),
    )
    mu1 = F.col("sw1") / F.col("sd1")
    mu0 = F.col("sw0") / F.col("sd0")
    naive = F.col("tot_y_t") / F.col("n_treated").cast("double") - F.col(
        "tot_y_c"
    ) / F.col("n_control").cast("double")
    return agg.crossJoin(F.broadcast(counts)).select(
        "n_strata_total",
        "n_strata_used",
        "n_treated",
        "n_control",
        qround(mu1, 4).alias("mu_treated_ipw"),
        qround(mu0, 4).alias("mu_control_ipw"),
        qround(mu1 - mu0, 4).alias("ate_ipw"),
        qround(naive, 4).alias("naive_diff"),
    )


TS_BASE_DATE = "1995-01-01"


def _signed_mag_bucket(v: Column) -> Column:
    """Monotone (non-decreasing) integer bucket of an arbitrary finite
    double — the partition key that lets a global order statistic run as
    per-bucket windows (as in :func:`bucketed_prefix`) when
    the value has no natural fixed-width domain (e.g. slopes spanning
    sign and many decades). 3-significant-digit magnitude buckets:

        m = floor(log10(|v|)), digits = floor(|v| / 10^(m-2)) ∈ [100, 999]
        key = sign(v) · (m·1000 + digits + 10⁶),  0 → 0

    Monotone across decade boundaries even under log10 float slop (a
    misassigned m at the boundary yields digits ~1000 ≤ the next
    decade's base +100, so order is preserved); the +10⁶ offset keeps
    every positive key above every negative one for any m ≥ −308.
    Equal values share a bucket by construction, so within-bucket
    ordering by (value, tiebreak) reproduces the global rank exactly.
    """
    # clamp |v| away from 0 BEFORE the log/pow math: codegen may hoist the
    # shared subexpression out of the CaseWhen, so with v = 0 (or a
    # denormal) pow(10, m−2) underflows to 0 and ANSI raises
    # DIVIDE_BY_ZERO even though the 0-branch never uses it. Everything
    # below 1e−300 shares the lowest magnitude bucket — a floor under a
    # monotone map stays monotone.
    av = F.greatest(F.abs(v), F.lit(1e-300))
    m = F.floor(F.log10(av))
    digits = F.floor(av / F.pow(F.lit(10.0), m - F.lit(2.0)))
    mag = m.cast("long") * F.lit(1000) + digits.cast("long") + F.lit(1000000)
    return (
        F.when(v > 0, mag).when(v < 0, -mag).otherwise(F.lit(0))
    ).cast("long")


def theil_sen_trend(orders: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of daily revenue (Theil 1950 / Sen 1968,
    public): slope = MEDIAN of all pairwise day-to-day slopes, intercept
    = median of per-day residuals at that slope — the estimator a single
    outlier month cannot drag (OLS twin: groupwise_linreg).

    The pairwise frame is O(#days²) — bounded by the CALENDAR, not the
    data (a decade is ~3.65k days → ≤6.7M slope pairs regardless of
    corpus size), so the self-join and its median rank run on an
    auxiliary frame that never grows with fact-table volume. Medians are
    exact type-1 lower order statistics (rank ⌈n/2⌉ by (value, pair
    key)); slopes are IEEE double divisions of exact inputs (decimal
    daily sums, integer day indexes), bit-identical across engines.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    d = daily.select(
        F.datediff(F.col("day"), F.lit(TS_BASE_DATE).cast("date")).alias("x"), "y"
    )
    # fan the calendar-sized left side across the cluster: AQE coalesces
    # the tiny daily aggregate to ONE partition, so the O(days²) pair
    # explode below otherwise runs as a single task (the explode's input
    # is small, its output is not — guide §2.5)
    nparts = orders.sparkSession.sparkContext.defaultParallelism
    # per-side column RENAMES (not alias-qualified access): with the
    # repartition inserted on one side and `d` referenced again downstream,
    # Spark's self-join attribute dedup can mis-resolve `a.x`/`b.x` to one
    # side (observed as slope dividing by xb−xa = 0 under ANSI)
    a = d.repartition(nparts).select(
        F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("xa") < F.col("xb")).select(
        (
            (F.col("yb") - F.col("ya"))
            / (F.col("xb") - F.col("xa")).cast("double")
        ).alias("slope"),
        "xa",
        "xb",
    )
    # median via the bucketed two-pass prefix rank (bucketed_prefix's
    # algorithm): the former Window.orderBy over the pair frame funneled
    # all O(days²) rows into ONE task (guide §2.5). _signed_mag_bucket is
    # monotone in slope, so (bucket, slope, xa, xb) ranks are the GLOBAL
    # (slope, xa, xb) ranks — same ⌈np/2⌉ row, bit-identical output. The
    # bucket census also yields np, so the count costs no extra pass.
    # localCheckpoint: (a) the census and the ranked pass otherwise each
    # re-run the O(days²) explode; (b) without the barrier the ranked
    # pass's bucket equi-join infers isnotnull(bucket) and pushes it into
    # the pair join's condition, where ANSI evaluates the slope division
    # before xa < xb — DIVIDE_BY_ZERO on the xa == xb pairs. The frame is
    # calendar-bounded (≤ ~6.7M rows/decade), so the materialization is
    # small at any corpus size.
    pb = pairs.withColumn(
        "bucket", _signed_mag_bucket(F.col("slope"))
    ).localCheckpoint()
    # offsets via ONE window over the bucket census, NOT the usual
    # prev-bucket triangle join: _signed_mag_bucket yields ~10⁴ distinct
    # buckets (vs the ~60 of the fixed-width callers), so the triangle
    # join is quadratic in bucket count — measured 74M joined rows at
    # sf0.1. The census is magnitude-bounded (≤ ~1M rows at ANY corpus
    # size), so a single-task cumulative window over it is constant cost.
    buckets = (
        pb.groupBy("bucket").agg(F.count("*").alias("bt")).localCheckpoint()
    )
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = buckets.select(
        "bucket", F.coalesce(F.sum("bt").over(w_off), F.lit(0)).alias("off")
    )
    np_ = buckets.agg(F.sum("bt").alias("np"))
    w_in = Window.partitionBy("bucket").orderBy("slope", "xa", "xb")
    med_slope = (
        pb.join(F.broadcast(offs), "bucket")
        .crossJoin(F.broadcast(np_))
        .withColumn("rk", F.col("off") + F.row_number().over(w_in))
        .filter(F.col("rk") == F.ceil(F.col("np").cast("double") / 2.0))
        .select(F.col("slope").alias("m"), F.col("np").alias("n_pairs"))
    )
    resid = d.crossJoin(F.broadcast(med_slope)).select(
        (F.col("y") - F.col("m") * F.col("x").cast("double")).alias("r"),
        "x",
        "m",
        "n_pairs",
    )
    nd = resid.agg(F.count("*").alias("nd"))
    wres = Window.orderBy("r", "x")
    return (
        resid.crossJoin(F.broadcast(nd))
        .withColumn("rk", F.row_number().over(wres))
        .filter(F.col("rk") == F.ceil(F.col("nd").cast("double") / 2.0))
        .select(
            F.col("nd").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            qround(F.col("m"), 6).alias("slope_per_day"),
            qround(F.col("r"), 4).alias("intercept"),
        )
    )


W1_BIN = 1000.0
W1_YEAR_A = 1996
W1_YEAR_B = 1997
W1_SCALE = 1e9  # per-bin |CDF gap| quantization (integer-sum convention)


def wasserstein_price_drift(
    orders: DataFrame,
    year_a: int = W1_YEAR_A,
    year_b: int = W1_YEAR_B,
    bin_width: float = W1_BIN,
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between two years' order-value
    distributions — the drift metric that, unlike PSI/KL
    (:func:`profiling.psi_price_drift`, corpus_drift_kl), is in OUTPUT
    UNITS (dollars: the average distance probability mass must move) and
    needs no smoothing for empty bins.

        W₁ = ∫ |F_a(x) − F_b(x)| dx  =  Σ_bins |CDF_a − CDF_b| · width

    on $1000-quantized values (documented quantization — W₁ of the
    binned distributions, exact). Plan: one conditional (bin)-keyed
    aggregate over the filtered scan (map-side combined, ≤600 rows out),
    cumulative counts via a window on the bin frame, per-bin |CDF gap|
    quantized to 1e-9 and summed in integer space (order-insensitive),
    scaled by the width once at the edge.
    """
    yr = F.year("o_orderdate")
    base = orders.filter(yr.isin(year_a, year_b)).select(
        (yr == year_a).alias("is_a"),
        F.floor(F.col("o_totalprice") / F.lit(bin_width)).cast("long").alias("bin"),
    )
    hist = base.groupBy("bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        (F.sum("ca").over(w).cast("double") / F.col("na").cast("double")).alias(
            "fa"
        ),
        (F.sum("cb").over(w).cast("double") / F.col("nb").cast("double")).alias(
            "fb"
        ),
        "na",
        "nb",
    )
    q = F.floor(F.abs(F.col("fa") - F.col("fb")) * F.lit(W1_SCALE) + F.lit(0.5)).cast(
        "long"
    )
    return cum.agg(
        F.lit(year_a).cast("int").alias("year_a"),
        F.lit(year_b).cast("int").alias("year_b"),
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        qround(
            F.sum(q).cast("double") / F.lit(W1_SCALE) * F.lit(bin_width), 4
        ).alias("w1_dollars"),
    )


HUBER_DELTA = 150000.0  # absolute Huber threshold on the o_totalprice
# domain; production estimates scale via the histogram-narrowing path
HUBER_ITERS = 3


def huber_location(
    orders: DataFrame, delta: float = HUBER_DELTA, iters: int = HUBER_ITERS
) -> DataFrame:
    """Huber M-estimator of location (Huber 1964, public) of order value
    per priority group via IRLS — the robust mean that downweights (not
    drops) tail orders: w = min(1, δ/|y−m|), m ← Σwy/Σw, iterated a
    fixed ``iters`` times from the group mean. Complements the median
    (fully order-based) and the winsorized mean (hard clip): Huber
    interpolates, and IRLS is the shape every robust fit uses at scale.

    Scale: every iteration is ONE map-side-combined group aggregate over
    the fact table with the previous centers BROADCAST back — no sort,
    no window, no per-group state beyond the ~5-row center frame.
    Exactness: weights are IEEE doubles of exact inputs, the weighted
    sums are DECIMAL-quantized per row (dsum), so every iterate is
    bit-identical across engines; fixed iteration count, no convergence
    test (a data-dependent stop would fork plans between engines).
    """
    y = F.col("o_totalprice")
    # spread(): every IRLS pass re-aggregates from the scan — on the
    # single-row-group file each pass's map phase is otherwise ONE task
    base = spread(orders.select(F.col("o_orderpriority").alias("grp"), y.alias("y")))
    centers = base.groupBy("grp").agg(
        (dsum(F.col("y")) / F.count("*").cast("double")).alias("m"),
        F.count("*").cast("long").alias("n"),
    )
    for _ in range(iters):
        r = F.abs(F.col("y") - F.col("m"))
        w = F.when(r <= delta, F.lit(1.0)).otherwise(F.lit(delta) / r)
        centers = (
            base.join(F.broadcast(centers.select("grp", "m", "n")), "grp")
            .groupBy("grp")
            .agg(
                (dsum(w * F.col("y")) / dsum(w)).alias("m"),
                F.max("n").alias("n"),
                F.sum((r > delta).cast("int")).cast("long").alias("n_downweighted"),
            )
        )
    mean = base.groupBy("grp").agg(
        (dsum(F.col("y")) / F.count("*").cast("double")).alias("mean")
    )
    return (
        centers.join(F.broadcast(mean), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n").alias("n_orders"),
            qround(F.col("mean"), 4).alias("plain_mean"),
            qround(F.col("m"), 4).alias("huber_location"),
            "n_downweighted",
        )
        .orderBy("o_orderpriority")
    )


LOGRANK_SEG_A = "AUTOMOBILE"
LOGRANK_SEG_B = "BUILDING"
LR_SCALE = 1e9


def log_rank_test(
    orders: DataFrame,
    customer: DataFrame,
    seg_a: str = LOGRANK_SEG_A,
    seg_b: str = LOGRANK_SEG_B,
    censor: str = KM_CENSOR,
) -> DataFrame:
    """Log-rank test (Mantel 1966 / Peto & Peto 1972, public) comparing
    the churn-survival curves of two customer segments — the inference
    companion to :func:`kaplan_meier_retention`/:func:`nelson_aalen_hazard`
    (those describe ONE curve; this says whether two differ):

        O−E = Σ_t (d_At − d_t·n_At/n_t),
        V   = Σ_t d_t·(n_At/n_t)(1−n_At/n_t)(n_t−d_t)/(n_t−1),
        χ²  = (O−E)²/V.

    Same scale posture as KM: one per-customer pass, then the distinct-
    lifetime frame (calendar-bounded). Per-step O−E and V terms are
    quantized to 1e-9 integers before the sums (engine-exact); the final
    ratio is one IEEE division.
    """
    seg = customer.select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    ).filter(F.col("seg").isin(seg_a, seg_b))
    cust = (
        orders.join(F.broadcast(seg), orders.o_custkey == F.col("c_custkey"))
        .groupBy("o_custkey", "seg")
        .agg(
            F.min("o_orderdate").alias("first_o"),
            F.max("o_orderdate").alias("last_o"),
        )
    )
    per = cust.select(
        "seg",
        F.datediff(F.to_date("last_o"), F.to_date("first_o")).alias("t"),
        (F.to_date("last_o") < F.lit(censor).cast("date")).cast("int").alias(
            "event"
        ),
    )
    is_a = (F.col("seg") == seg_a).cast("int")
    by_t = per.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(F.col("event") * is_a).cast("long").alias("d_a"),
        F.count("*").cast("long").alias("x"),
        F.sum(is_a).cast("long").alias("x_a"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = by_t.agg(
        F.sum("x").alias("n_tot"),
        F.sum("x_a").alias("n_tot_a"),
        F.sum("d").alias("ev_tot"),
        F.sum("d_a").alias("ev_tot_a"),
    )
    risk = (
        by_t.crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            "d_a",
            (F.col("n_tot") - F.coalesce(F.sum("x").over(w_prev), F.lit(0))).alias(
                "n"
            ),
            (
                F.col("n_tot_a")
                - F.coalesce(F.sum("x_a").over(w_prev), F.lit(0))
            ).alias("n_a"),
            "n_tot",
            "n_tot_a",
            "ev_tot",
            "ev_tot_a",
        )
        .filter((F.col("d") > 0) & (F.col("n") > 1))
    )
    dn, nn = F.col("d").cast("double"), F.col("n").cast("double")
    pa = F.col("n_a").cast("double") / nn
    oe = F.col("d_a").cast("double") - dn * pa
    v = dn * pa * (F.lit(1.0) - pa) * (nn - dn) / (nn - F.lit(1.0))
    q_oe = F.floor(oe * F.lit(LR_SCALE) + F.lit(0.5)).cast("long")
    q_v = F.floor(v * F.lit(LR_SCALE) + F.lit(0.5)).cast("long")
    agg = risk.agg(
        F.max("n_tot_a").cast("long").alias("n_a_total"),
        (F.max("n_tot") - F.max("n_tot_a")).cast("long").alias("n_b_total"),
        F.max("ev_tot_a").cast("long").alias("events_a"),
        (F.max("ev_tot") - F.max("ev_tot_a")).cast("long").alias("events_b"),
        F.sum(q_oe).alias("qoe"),
        F.sum(q_v).alias("qv"),
    )
    oe_d = F.col("qoe").cast("double") / F.lit(LR_SCALE)
    v_d = F.col("qv").cast("double") / F.lit(LR_SCALE)
    return agg.select(
        F.lit(seg_a).alias("segment_a"),
        F.lit(seg_b).alias("segment_b"),
        "n_a_total",
        "n_b_total",
        "events_a",
        "events_b",
        qround(oe_d, 6).alias("observed_minus_expected"),
        qround(v_d, 6).alias("variance"),
        qround(oe_d * oe_d / v_d, 6).alias("chi_sq"),
    )


def mann_kendall_trend(orders: DataFrame) -> DataFrame:
    """Mann–Kendall trend test (Mann 1945 / Kendall 1975, public) on
    daily revenue: S = Σ_{i<j} sign(y_j − y_i) with the tie-corrected
    variance — the NONPARAMETRIC companion to :func:`theil_sen_trend`
    (same pairwise frame; Theil–Sen estimates the slope, Mann–Kendall
    tests whether a monotone trend exists at all).

    The pairwise frame is calendar-bounded (O(#days²), like Theil–Sen).
    S and the tie census are exact integers; var(S) = [n(n−1)(2n+5) −
    Σ_g t_g(t_g−1)(2t_g+5)]/18 evaluated as one integer numerator and a
    single division; z applies the standard ±1 continuity correction.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    d = daily.select(
        F.datediff(F.col("day"), F.lit(TS_BASE_DATE).cast("date")).alias("x"), "y"
    )
    # fan the pair explode (theil_sen_trend's rationale — the O(days²)
    # join otherwise runs as one task over the AQE-coalesced daily frame)
    nparts = orders.sparkSession.sparkContext.defaultParallelism
    a, b = d.repartition(nparts).alias("a"), d.alias("b")
    s_agg = (
        a.join(b, F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(F.signum(F.col("b.y") - F.col("a.y")).cast("long")).alias("s"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    # tie census over daily values (decimal-exact y makes ties exact)
    ties = (
        d.groupBy("y")
        .agg(F.count("*").alias("tg"))
        .filter(F.col("tg") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_num")
        )
    )
    n_ = d.agg(F.count("*").cast("long").alias("n"))
    j = s_agg.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(n_))
    n = F.col("n")
    var_num = (n * (n - 1) * (2 * n + 5) - F.col("tie_num")).cast("double")
    var_s = var_num / F.lit(18.0)
    s = F.col("s").cast("double")
    z = F.when(F.col("s") > 0, (s - 1) / F.sqrt(var_s)).when(
        F.col("s") < 0, (s + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("n").alias("n_days"),
        "n_pairs",
        F.col("s").cast("long").alias("s_statistic"),
        qround(var_s, 4).alias("var_s"),
        qround(z, 6).alias("z_score"),
        F.when(F.col("s") > 0, F.lit("increasing"))
        .when(F.col("s") < 0, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# --- distribution tests / closed-form regression (round-9 session 2) -------

DEC38 = "decimal(38,8)"  # squared-moment sums overflow DEC(24,8) past ~1e16


def _dsum38(expr: Column) -> Column:
    """dsum widened for squared-term moments: per-row doubles →
    DECIMAL(38,8) → exact sum → double. Same no-tie argument as
    numeric.dsum (a dyadic double cannot end in …5·10⁻⁹), with 22 more
    integer digits of headroom so Σx² survives petabyte-scale facts."""
    return F.sum(expr.cast(DEC38)).cast("double")


def _sql_dsum38(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(38,8))) AS DOUBLE)"


KS_BUCKET_WIDTH = 10_000.0


def ks_test_two_sample(
    orders: DataFrame, year_a: int = W1_YEAR_A, year_b: int = W1_YEAR_B
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between two years' order-value
    distributions — the third drift lens next to
    :func:`wasserstein_price_drift` (mass-transport distance) and
    ``profiling.psi_price_drift`` (binned log-ratio): the KS D statistic
    is the sup-norm gap between the two EXACT empirical CDFs, no binning
    or smoothing at all.

    Scale shape: one data-sized map-side-combined aggregate builds the
    distinct-value frame (price → per-year counts); cumulative counts
    and both totals come from :func:`bucketed_prefix` over fixed-width
    price buckets — no task ever sorts more than one bucket of distinct
    values, and no unpartitioned window exists anywhere in the plan. D is
    a max over exact integer-ratio doubles (order-insensitive); the
    asymptotic
    λ = √(n_a·n_b/(n_a+n_b))·D and one-term p ≈ 2·exp(−2λ²) use the
    identical expression shape as the DuckDB twin, exp quantized at 1e-6
    (the dp_noisy_counts libm convention).
    """
    yr = F.year("o_orderdate")
    base = orders.filter(yr.isin(year_a, year_b)).select(
        F.col("o_totalprice").cast("double").alias("v"),
        (yr == year_a).alias("isa"),
    )
    vals = (
        base.groupBy("v")
        .agg(
            F.count(F.when(F.col("isa"), 1)).alias("ca"),
            F.count(F.when(~F.col("isa"), 1)).alias("cb"),
        )
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    na, nb = F.col("n_ca").cast("double"), F.col("n_cb").cast("double")
    d = bucketed_prefix(vals, "v", ("ca", "cb")).agg(
        F.max(
            F.abs(
                F.col("cum_ca").cast("double") / na
                - F.col("cum_cb").cast("double") / nb
            )
        ).alias("dmax"),
        F.first(na).alias("na"),
        F.first(nb).alias("nb"),
    )
    lam = F.sqrt(F.col("na") * F.col("nb") / (F.col("na") + F.col("nb"))) * F.col(
        "dmax"
    )
    return d.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        qround(F.col("dmax"), 9).alias("d_stat"),
        qround(lam, 6).alias("ks_lambda"),
        qround(
            F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam * lam)), 6
        ).alias("p_value"),
    )


def kruskal_wallis_priority(orders: DataFrame) -> DataFrame:
    """Kruskal–Wallis H test of ``o_totalprice`` across ALL five order
    priorities — the k-group generalisation of :func:`mann_whitney_u`
    (Kruskal & Wallis 1952, public), with the standard tie correction
    C = 1 − Σ(t³−t)/(N³−N).

    Rank-free at scale, as mann_whitney_u: per-(value, group) counts
    from one map-side-combined aggregate, global cumulative counts below
    each distinct value from :func:`bucketed_prefix` (no unpartitioned
    window), then the integer rank-sum identity per group

        2·R_g = Σ_v c_g(v) · (2·cum_lt(v) + t(v) + 1)

    in DECIMAL(38,0) (exact at any N). The k-row group frame reduces to
    H with order-insensitive DECIMAL(38,8) sums of R_g²/n_g, so the
    5-term float reduction cannot vary with aggregation order.
    """
    vals = (
        orders.select(
            F.col("o_totalprice").cast("double").alias("v"),
            F.col("o_orderpriority").alias("grp"),
        )
        .groupBy("v", "grp")
        .agg(F.count("*").alias("cg"))
        # feeds the per-value totals and the per-group rank sums
        .localCheckpoint()
    )
    tots = (
        vals.groupBy("v")
        .agg(F.sum("cg").alias("t"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    ranked = bucketed_prefix(tots, "v", ("t",)).select(
        "v", "t", (F.col("cum_t") - F.col("t")).alias("cum_lt")
    )
    big = "decimal(38,0)"
    # Σ_v (t³ − t) = Σ_(v,g) c_g·(t² − 1): the tie sum rides the per-group
    # aggregate, summed in DECIMAL(38,0) until the one double cast
    per_group = (
        vals.join(ranked, "v")
        .groupBy("grp")
        .agg(
            F.sum(
                (F.col("cg") * (2 * F.col("cum_lt") + F.col("t") + 1)).cast(big)
            )
            .cast("double")
            .alias("r2g"),
            F.sum(F.col("cg").cast(big)).cast("double").alias("ng"),
            F.sum(
                (F.col("cg") * (F.col("t") * F.col("t") - 1)).cast(big)
            ).alias("ties_g"),
        )
    )
    agg = per_group.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("ng").cast(DEC38)).cast("double").alias("n_total"),
        F.sum(
            (
                (F.col("r2g") / F.lit(2.0))
                * (F.col("r2g") / F.lit(2.0))
                / F.col("ng")
            ).cast(DEC38)
        )
        .cast("double")
        .alias("sum_r2_over_n"),
        F.sum("ties_g").cast("double").alias("tie_sum"),
    )
    n = F.col("n_total")
    h = (
        F.lit(12.0) / (n * (n + 1)) * F.col("sum_r2_over_n")
        - F.lit(3.0) * (n + 1)
    )
    corr = F.lit(1.0) - F.col("tie_sum") / (n * n * n - n)
    return agg.select(
        n.cast("long").alias("n_total"),
        "k_groups",
        qround(h, 6).alias("h_stat"),
        qround(corr, 9).alias("tie_correction"),
        qround(h / corr, 6).alias("h_corrected"),
    )


def kendall_tau_daily(orders: DataFrame) -> DataFrame:
    """Kendall τ-b rank correlation between daily revenue and daily order
    count — the concordance companion to spearman_rank_corr (monotone
    association robust to outliers, with the τ-b tie correction since
    integer order counts tie heavily).

    The pairwise frame is O(#days²), bounded by the CALENDAR exactly as
    :func:`theil_sen_trend` (a decade ≤ ~6.7M day pairs regardless of
    corpus size); the data-sized work is one map-side-combined daily
    aggregate. Concordant/discordant/tie counts are pure integer
    conditionals on exact inputs (decimal daily sums compare exactly);
    τ-b's two square roots are the only float ops, pinned with qround.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("double").alias("x"),
        dsum(F.col("o_totalprice")).alias("y"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    ax, bx, ay, by = F.col("a.x"), F.col("b.x"), F.col("a.y"), F.col("b.y")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1)
        .otherwise(0)
        .alias("cc"),
        F.when(((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1)
        .otherwise(0)
        .alias("dd"),
        F.when(ax == bx, 1).otherwise(0).alias("tx"),
        F.when(ay == by, 1).otherwise(0).alias("ty"),
    )
    g = pairs.agg(
        F.count("*").cast("double").alias("n_pairs"),
        F.sum("cc").cast("double").alias("conc"),
        F.sum("dd").cast("double").alias("disc"),
        F.sum("tx").cast("double").alias("tiex"),
        F.sum("ty").cast("double").alias("tiey"),
    )
    tau_b = (F.col("conc") - F.col("disc")) / (
        F.sqrt(F.col("n_pairs") - F.col("tiex"))
        * F.sqrt(F.col("n_pairs") - F.col("tiey"))
    )
    nd = daily.agg(F.count("*").cast("long").alias("n_days"))
    return g.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        qround(tau_b, 6).alias("tau_b"),
    )


def anova_oneway_priority(orders: DataFrame) -> DataFrame:
    """One-way ANOVA F test of ``o_totalprice`` across the five order
    priorities — the parametric twin of :func:`kruskal_wallis_priority`
    (same contrast :func:`welch_ttest` : :func:`mann_whitney_u`).

    ONE map-side-combined aggregate produces the k-row per-group moment
    frame (n, Σx, Σx² as exact decimal sums); the k-row reduction to
    F = (SSB/(k−1)) / (SSW/(N−k)) uses order-insensitive DECIMAL(38,8)
    sums (Σ_g S_g²/n_g reaches ~1e17 at petabyte SF — past DEC(24,8)'s
    integer range, hence the widened lane), then scalar IEEE arithmetic
    written with the identical expression shape as the DuckDB twin.
    """
    x = F.col("o_totalprice").cast("double")
    g = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("ng"),
        _dsum38(x).alias("sx"),
        _dsum38(x * x).alias("sxx"),
    )
    agg = g.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("ng").cast(DEC38)).cast("double").alias("n_total"),
        F.sum(F.col("sx").cast(DEC38)).cast("double").alias("sx_all"),
        F.sum(F.col("sxx").cast(DEC38)).cast("double").alias("sxx_all"),
        F.sum((F.col("sx") * F.col("sx") / F.col("ng")).cast(DEC38))
        .cast("double")
        .alias("sb_raw"),
    )
    n, k = F.col("n_total"), F.col("k_groups").cast("double")
    ssb = F.col("sb_raw") - F.col("sx_all") * F.col("sx_all") / n
    sst = F.col("sxx_all") - F.col("sx_all") * F.col("sx_all") / n
    ssw = sst - ssb
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return agg.select(
        n.cast("long").alias("n_total"),
        "k_groups",
        qround(f, 4).alias("f_stat"),
        qround(ssb / sst, 9).alias("eta_squared"),
    )


RIDGE_LAMBDA_PER_ROW = 10.0  # per-sample L2 penalty: λ = 10·n (SF-invariant)


def ridge_regression_price(lineitem: DataFrame) -> DataFrame:
    """Closed-form ridge regression of ``l_extendedprice`` on
    (l_quantity, l_discount): β = (XᵀX + λI)⁻¹Xᵀy on CENTERED features
    (intercept unpenalised), solved exactly with Cramer's rule on the
    2×2 system — the regularised big-brother of groupwise_linreg, and
    the shape a 100 TB feature pipeline actually uses (one pass for the
    Gram moments, O(1) solve; no gradient iterations).

    λ scales with n (RIDGE_LAMBDA_PER_ROW per sample) so the shrinkage
    is SF-invariant. ONE map-side-combined aggregate computes all nine
    Gram/moment sums as exact DECIMAL(38,8) reductions of per-row double
    products (order-insensitive, engine-identical); the solve is scalar
    IEEE arithmetic with the identical expression shape as the DuckDB
    twin, pinned with qround. R² is the ridge-residual 1 − SSE/Syy.
    """
    y = F.col("l_extendedprice").cast("double")
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    # spread(): the 10-decimal-sum partial aggregate otherwise runs on the
    # scan's task count — ONE task for a single-row-group file (r14
    # measurement; guide §2.5 input-skew remedy). Decimal sums are
    # order-insensitive, so the fan-out cannot change the result.
    m = spread(lineitem.select("l_quantity", "l_discount", "l_extendedprice")).agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(x1).alias("s1"),
        _dsum38(x2).alias("s2"),
        _dsum38(y).alias("sy"),
        _dsum38(x1 * x1).alias("s11"),
        _dsum38(x2 * x2).alias("s22"),
        _dsum38(x1 * x2).alias("s12"),
        _dsum38(x1 * y).alias("s1y"),
        _dsum38(x2 * y).alias("s2y"),
        _dsum38(y * y).alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    lam = F.lit(RIDGE_LAMBDA_PER_ROW) * n
    det = (c11 + lam) * (c22 + lam) - c12 * c12
    b1 = ((c22 + lam) * c1y - c12 * c2y) / det
    b2 = ((c11 + lam) * c2y - c12 * c1y) / det
    intercept = (F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / n
    sse = (
        cyy
        - F.lit(2.0) * (b1 * c1y + b2 * c2y)
        + b1 * b1 * c11
        + F.lit(2.0) * b1 * b2 * c12
        + b2 * b2 * c22
    )
    return m.select(
        n.cast("long").alias("n_rows"),
        qround(b1, 6).alias("beta_qty"),
        qround(b2, 4).alias("beta_discount"),
        qround(intercept, 4).alias("intercept"),
        qround(F.lit(1.0) - sse / cyy, 9).alias("r_squared"),
    )


# Abramowitz & Stegun 26.2.17 normal-tail polynomial (public handbook):
# |error| < 7.5e-8, far inside the 1e-6 release quantum below.
AS_T = 0.2316419
AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
INV_SQRT_2PI = 0.3989422804014327
BH_Q = 0.05


def _norm_sf_expr(x: Column) -> Column:
    """Upper-tail normal probability Q(x) for x ≥ 0, Horner-evaluated with
    the EXACT same association order as :func:`sql_norm_sf` — the two
    texts must produce bit-identical doubles given identical inputs."""
    b1, b2, b3, b4, b5 = AS_B
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(AS_T) * x)
    poly = t * (
        F.lit(b1)
        + t * (F.lit(b2) + t * (F.lit(b3) + t * (F.lit(b4) + t * F.lit(b5))))
    )
    return F.lit(INV_SQRT_2PI) * F.exp(F.lit(-0.5) * x * x) * poly


def sql_norm_sf(x: str) -> str:
    b1, b2, b3, b4, b5 = AS_B
    t = f"(1.0 / (1.0 + {AS_T} * ({x})))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    return f"({INV_SQRT_2PI} * exp(-0.5 * ({x}) * ({x})) * {poly})"


def bh_fdr_brand_price(
    lineitem: DataFrame, part: DataFrame, q: float = BH_Q
) -> DataFrame:
    """Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995, public)
    over the family of per-brand "does this brand's line price differ
    from the rest?" z-tests — the multiple-testing layer every screening
    pipeline needs on top of single-test primitives like welch_ttest
    (25 brands = 25 chances for a spurious 0.05 hit).

    Per-brand z from one shuffle join (lineitem ⋈ part on partkey — both
    sides data-sized, no broadcast) and ONE map-side-combined moment
    aggregate; the rest-population moments are the broadcast global row
    minus the brand row (no second pass). Two-sided p from the A&S
    normal-tail polynomial — quantized to 1e-6 BEFORE any decision, so
    the rank ordering and every p ≤ q·i/m comparison happen on
    engine-identical doubles (a raw exp() 1-ulp drift could otherwise
    flip a rejection). The BH step-up runs on the BRAND frame: bounded
    cardinality by schema (~25 rows), so the unpartitioned rank window
    is constant-size at any corpus scale.

    Output per brand: n_items, z_score, p_value, bh_rank, bh_threshold,
    rejected (0/1 int).
    """
    y = F.col("l_extendedprice").cast("double")
    # spread(): join + per-brand partial moment aggregate otherwise fuse
    # into ONE stage on the single-row-group scan's one task
    j = spread(lineitem.select("l_partkey", y.alias("y"))).join(
        part.select("p_partkey", "p_brand"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    g = j.groupBy("p_brand").agg(
        F.count("*").cast("double").alias("nb"),
        _dsum38(F.col("y")).alias("sx"),
        _dsum38(F.col("y") * F.col("y")).alias("sxx"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum(F.col("nb").cast(DEC38)).cast("double").alias("n_all"),
            F.sum(F.col("sx").cast(DEC38)).cast("double").alias("sx_all"),
            F.sum(F.col("sxx").cast(DEC38)).cast("double").alias("sxx_all"),
        )
    )
    x = g.crossJoin(tot)
    nb, nr = F.col("nb"), F.col("n_all") - F.col("nb")
    sxr = F.col("sx_all") - F.col("sx")
    sxxr = F.col("sxx_all") - F.col("sxx")
    mb, mr = F.col("sx") / nb, sxr / nr
    vb = (F.col("sxx") - F.col("sx") * F.col("sx") / nb) / (nb - 1)
    vr = (sxxr - sxr * sxr / nr) / (nr - 1)
    z = (mb - mr) / F.sqrt(vb / nb + vr / nr)
    scored = x.select(
        F.col("p_brand").alias("brand"),
        nb.cast("long").alias("n_items"),
        qround(z, 6).alias("z_score"),
        qround(F.lit(2.0) * _norm_sf_expr(F.abs(z)), 6).alias("p_value"),
    )
    w_rank = Window.orderBy("p_value", "brand")
    w_all = Window.partitionBy()
    ranked = scored.withColumn("bh_rank", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all)
    )
    thr = qround(F.lit(q) * F.col("bh_rank") / F.col("m"), 6)
    ranked = ranked.withColumn("bh_threshold", thr).withColumn(
        "max_pass",
        F.max(
            F.when(F.col("p_value") <= F.col("bh_threshold"), F.col("bh_rank"))
        ).over(w_all),
    )
    return ranked.select(
        "brand",
        "n_items",
        "z_score",
        "p_value",
        "bh_rank",
        "bh_threshold",
        F.when(
            F.col("bh_rank") <= F.coalesce(F.col("max_pass"), F.lit(0)), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


PERM_B = 200  # permutation replicates (one deterministic pass, the
# bootstrap_ci_revenue explode-x-B shape)


def permutation_test_price(orders: DataFrame, b_reps: int = PERM_B) -> DataFrame:
    """Randomization test for the mean-price difference between the two
    welch_ttest priority populations — the assumption-free companion to
    the t/U tests: the null distribution is built by RE-ASSIGNING group
    labels, not by formulas.

    Like bootstrap_ci_revenue, the whole test is ONE deterministic pass:
    replicate b re-labels each order via the engine-shared md5 lane
    (u(o,b) < n_a/n — binomial randomization, the label-exchange variant
    that needs no per-replicate sort; group sizes vary ~√n around the
    observed split, documented), so the explode ×B is map-local and the
    B replicate statistics come from one map-side-combined aggregate.
    Round 12: the md5 work is sharded — one digest per (order, b/4
    group), four 32-bit lanes sliced from its 128 bits — cutting the
    dominant hash cost 4× while each replicate keeps an independent
    uniform (the DuckDB twin slices the same offsets, so the test stays
    hash-exact).
    p = (1 + #{|stat_b| ≥ |obs|}) / (B + 1), the add-one permutation
    convention (Phipson & Smyth 2010, public). Every comparison happens
    on doubles produced by identical expression shapes on both engines.

    Scale shape (round 11 — this was the steepest scaling row at
    8.3×/decade; the md5 draw is the stated cost of exactness, but the
    N×B aggregation lanes were paying DECIMAL(38) arithmetic they don't
    need): o_totalprice is a 2-decimal quantity, so each replicate's
    group-A sum accumulates exact integer CENTS (floor(x·100 + 0.5) as
    BIGINT — recovery is exact because a 2-dp value's double is within
    4e-9 of c/100, and Σ|cents| < 2⁵³ through ~10⁹ orders), and the
    B-side sum is derived by exact integer subtraction from the one
    unconditional total instead of a second conditional lane. The
    resulting per-replicate doubles are BIT-IDENTICAL to the previous
    DECIMAL(38,8) lanes (cast(longΣ)/100.0 and the decimal cast both
    round the same exact rational to nearest double), so the DuckDB
    oracle — which keeps the decimal formulation — still hash-matches,
    pinned by tests/test_inference_family.py::
    test_permutation_cents_lanes_match_decimal_lanes.
    """
    from ..tables import spread

    a = F.col("o_orderpriority") == TTEST_GROUP_A
    base = orders.filter(
        F.col("o_orderpriority").isin(TTEST_GROUP_A, TTEST_GROUP_B)
    ).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("double").alias("x"),
        a.alias("isa"),
    )
    obs = base.agg(
        F.count(F.when(F.col("isa"), 1)).cast("double").alias("na"),
        F.count(F.when(~F.col("isa"), 1)).cast("double").alias("nb"),
        _dsum38(F.when(F.col("isa"), F.col("x"))).alias("sxa"),
        _dsum38(F.when(~F.col("isa"), F.col("x"))).alias("sxb"),
        F.sum(F.floor(F.col("x") * 100 + F.lit(0.5)).cast("long")).alias(
            "s_cents"
        ),
        F.count("*").alias("c_all"),
    ).select(
        "na",
        "nb",
        "s_cents",
        "c_all",
        (F.col("sxa") / F.col("na") - F.col("sxb") / F.col("nb")).alias("obs"),
        (F.col("na") / (F.col("na") + F.col("nb"))).alias("pa"),
    )
    # ONE md5 digest feeds FOUR replicates (round 12): the md5 draw is
    # the dominant cost (r11 measured ~20M lanes/s, linear in N×B), and
    # a 128-bit digest holds four independent 32-bit uniforms — so the
    # explode runs over B/4 hash groups and the digest is sliced at hex
    # offsets 0/8/16/24. The digest column is materialized in its OWN
    # projection below the lane Generate, so it is computed once per
    # (order, group) row — 4× fewer md5 evaluations for identical
    # statistical semantics (each lane is still an independent uniform).
    n_groups = (b_reps + 3) // 4
    rep = spread(base).select(
        "okey",
        F.floor(F.col("x") * 100 + F.lit(0.5)).cast("long").alias("xc"),
        F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("bg"),
    )
    hashed = rep.select(
        "xc",
        "bg",
        F.md5(
            F.concat_ws(
                ":", F.col("okey").cast("string"), F.col("bg").cast("string")
            )
        ).alias("h"),
    )
    lanes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(F.substring(F.col("h"), 8 * j + 1, 8), 16, 10)
                    .cast("long")
                    .cast("double")
                    / F.lit(4294967296.0)
                ).alias("u"),
            )
            for j in range(4)
        ]
    )
    drawn = (
        hashed.select("xc", "bg", F.explode(lanes).alias("l"))
        .select(
            "xc",
            (F.col("bg") * 4 + F.col("l.j")).alias("b"),
            F.col("l.u").alias("u"),
        )
        .filter(F.col("b") < b_reps)
    )
    stats = (
        drawn.crossJoin(F.broadcast(obs.select("pa")))
        .withColumn("toa", F.col("u") < F.col("pa"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("toa"), F.col("xc"))).alias("sac"),
            F.count(F.when(F.col("toa"), 1)).alias("ca"),
        )
    )
    # s_cents/c_all ride the SAME final obs broadcast the n_extreme
    # comparison needs — a separate mid-pipeline crossJoin would be a
    # third obs broadcast, re-running the orders scan+aggregate once more
    stat = (
        F.col("sac").cast("double")
        / F.lit(100.0)
        / F.nullif(F.col("ca"), F.lit(0)).cast("double")
        - (F.col("s_cents") - F.col("sac")).cast("double")
        / F.lit(100.0)
        / F.nullif(F.col("c_all") - F.col("ca"), F.lit(0)).cast("double")
    )
    res = stats.crossJoin(F.broadcast(obs)).agg(
        F.count("*").cast("long").alias("b_reps"),
        F.sum(
            F.when(F.abs(stat) >= F.abs(F.col("obs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
        F.first("obs").alias("obs"),
    )
    return res.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        qround(F.col("obs"), 4).alias("obs_diff"),
        "b_reps",
        "n_extreme",
        qround(
            (F.lit(1.0) + F.col("n_extreme"))
            / (F.col("b_reps").cast("double") + 1.0),
            6,
        ).alias("p_value"),
    )


def effect_sizes_priority(orders: DataFrame) -> DataFrame:
    """Effect-size family for the welch_ttest pair — the MAGNITUDE layer
    the significance tests (t / U / permutation) deliberately don't
    report: Cohen's d (pooled-SD standardized difference), Hedges' g
    (small-sample bias correction, the 1 − 3/(4N−9) approximation),
    Cliff's delta and the common-language effect size (both exact
    transforms of the Mann–Whitney U already computed by the rank-free
    bucketed plan — this entry COMPOSES :func:`mann_whitney_u` with one
    extra moment aggregate rather than re-deriving ranks).
    """
    mw = mann_whitney_u(orders).select("u_a")
    x = F.col("o_totalprice").cast("double")
    a = F.col("o_orderpriority") == TTEST_GROUP_A
    b = F.col("o_orderpriority") == TTEST_GROUP_B
    mom = orders.agg(
        F.count(F.when(a, 1)).cast("double").alias("na"),
        F.count(F.when(b, 1)).cast("double").alias("nb"),
        _dsum38(F.when(a, x)).alias("sxa"),
        _dsum38(F.when(a, x * x)).alias("sxxa"),
        _dsum38(F.when(b, x)).alias("sxb"),
        _dsum38(F.when(b, x * x)).alias("sxxb"),
    )
    j = mom.crossJoin(F.broadcast(mw))
    na, nb = F.col("na"), F.col("nb")
    ma, mb = F.col("sxa") / na, F.col("sxb") / nb
    va = (F.col("sxxa") - F.col("sxa") * F.col("sxa") / na) / (na - 1)
    vb = (F.col("sxxb") - F.col("sxb") * F.col("sxb") / nb) / (nb - 1)
    sp = F.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = (ma - mb) / sp
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - F.lit(9.0)))
    cles = F.col("u_a") / (na * nb)
    return j.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        qround(d, 6).alias("cohens_d"),
        qround(g, 6).alias("hedges_g"),
        qround(F.lit(2.0) * cles - F.lit(1.0), 6).alias("cliffs_delta"),
        qround(cles, 6).alias("cles"),
    )


CONF_ALPHA = 0.1  # split-conformal miscoverage target (90% intervals)
CONF_BUCKET = 1000.0  # |residual| bucket width for the two-pass rank


def conformal_interval_price(lineitem: DataFrame) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005 /
    Papadopoulos et al. 2002, public) around the ridge price model: fit
    :func:`ridge_regression_price`'s closed form on the TRAIN half of a
    deterministic hash split, then the 90% interval half-width is the
    ⌈(n_cal+1)(1−α)⌉-th smallest absolute calibration residual — the
    distribution-free guarantee every 100 TB feature pipeline can afford
    (two aggregates + one order statistic, no refitting).

    The split is the engine-shared md5 lane on (orderkey, linenumber) —
    the hash_split convention. The order statistic never sorts globally:
    :func:`bucketed_prefix` (a running count of 1) finds the target
    rank with per-bucket windows only. Output includes the
    achieved calibration coverage (≥ 1−α by construction — pinned, not
    assumed).
    """
    from .text import md5_prefix_value

    y = F.col("l_extendedprice").cast("double")
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    key = F.concat_ws(
        ":",
        F.col("okey").cast("string"),
        F.col("lno").cast("string"),
    )
    lane = md5_prefix_value(key, 8).cast("double") / F.lit(4294967296.0)
    # spread() BEFORE the md5 lane map and the checkpoint: the
    # materialization inherits the input partitioning, so without it the
    # lane hashing AND every downstream stage (train-half moment
    # aggregate, calibration residual map) run on the single-row-group
    # scan's ONE task. The lane is computed AFTER the fan-out — putting
    # it in the pre-shuffle projection would serialize the hashing again.
    base = (
        spread(
            lineitem.select(
                y.alias("y"),
                x1.alias("x1"),
                x2.alias("x2"),
                F.col("l_orderkey").alias("okey"),
                F.col("l_linenumber").alias("lno"),
            )
        )
        .select(
            "y", "x1", "x2", (lane < F.lit(0.5)).alias("is_train"), "okey", "lno"
        )
        .localCheckpoint()
    )
    tr = F.col("is_train")
    m = base.agg(
        F.count(F.when(tr, 1)).cast("double").alias("n"),
        _dsum38(F.when(tr, F.col("x1"))).alias("s1"),
        _dsum38(F.when(tr, F.col("x2"))).alias("s2"),
        _dsum38(F.when(tr, F.col("y"))).alias("sy"),
        _dsum38(F.when(tr, F.col("x1") * F.col("x1"))).alias("s11"),
        _dsum38(F.when(tr, F.col("x2") * F.col("x2"))).alias("s22"),
        _dsum38(F.when(tr, F.col("x1") * F.col("x2"))).alias("s12"),
        _dsum38(F.when(tr, F.col("x1") * F.col("y"))).alias("s1y"),
        _dsum38(F.when(tr, F.col("x2") * F.col("y"))).alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    lam = F.lit(RIDGE_LAMBDA_PER_ROW) * n
    det = (c11 + lam) * (c22 + lam) - c12 * c12
    fit = F.broadcast(
        m.select(
            n.alias("n_train"),
            (((c22 + lam) * c1y - c12 * c2y) / det).alias("b1"),
            (((c11 + lam) * c2y - c12 * c1y) / det).alias("b2"),
            "s1",
            "s2",
            "sy",
        ).select(
            "n_train",
            "b1",
            "b2",
            (
                (F.col("sy") - F.col("b1") * F.col("s1") - F.col("b2") * F.col("s2"))
                / F.col("n_train")
            ).alias("b0"),
        )
    )
    cal = (
        base.filter(~tr)
        .crossJoin(fit)
        .select(
            F.abs(
                F.col("y")
                - (
                    F.col("b0")
                    + F.col("b1") * F.col("x1")
                    + F.col("b2") * F.col("x2")
                )
            ).alias("r"),
            "okey",
            "lno",
            F.lit(1).alias("one"),
        )
        .withColumn("bucket", F.floor(F.col("r") / F.lit(CONF_BUCKET)))
    )
    # the running count of 1 in (r, okey, lno) order is the row number
    ranked = bucketed_prefix(cal, ["r", "okey", "lno"], ("one",))
    target = F.ceil(
        (F.col("n_one").cast("double") + 1.0) * F.lit(1.0 - CONF_ALPHA)
    )
    q = ranked.filter(F.col("cum_one") == target).select(
        F.col("r").alias("q_width"), F.col("n_one").alias("n_cal")
    )
    cov = (
        ranked.crossJoin(F.broadcast(q))
        .groupBy("q_width", "n_cal")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("q_width"), 1).otherwise(0))
            .cast("double")
            .alias("n_in"),
            F.count("*").cast("double").alias("nc"),
        )
        .select(
            (F.col("n_in") / F.col("nc")).alias("coverage"), "q_width", "n_cal"
        )
    )
    return (
        fit.crossJoin(F.broadcast(cov))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            qround(F.col("b1"), 6).alias("beta_qty"),
            qround(F.col("b2"), 4).alias("beta_discount"),
            qround(F.col("b0"), 4).alias("intercept"),
            qround(F.col("q_width"), 4).alias("q_width"),
            qround(F.col("coverage"), 6).alias("coverage"),
        )
    )


def vif_features(lineitem: DataFrame) -> DataFrame:
    """Variance inflation factors for the (l_quantity, l_discount, l_tax)
    feature set — the multicollinearity gate a feature pipeline runs
    before trusting any regression's coefficients (VIF_j = 1/(1−R²_j),
    R²_j from regressing feature j on the other two).

    ONE map-side-combined aggregate produces every pairwise moment
    (exact DECIMAL(38,8) sums); each R²_j is then a closed-form 2×2
    Cramer solve on the single moment row — no per-feature passes, no
    iteration, identical scalar expression shape on both engines.
    """
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    x3 = F.col("l_tax").cast("double")
    # spread(): single-row-group scan → 1-task moment aggregate otherwise
    # (see ridge_regression_price)
    m = spread(lineitem.select("l_quantity", "l_discount", "l_tax")).agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(x1).alias("s1"),
        _dsum38(x2).alias("s2"),
        _dsum38(x3).alias("s3"),
        _dsum38(x1 * x1).alias("s11"),
        _dsum38(x2 * x2).alias("s22"),
        _dsum38(x3 * x3).alias("s33"),
        _dsum38(x1 * x2).alias("s12"),
        _dsum38(x1 * x3).alias("s13"),
        _dsum38(x2 * x3).alias("s23"),
    )
    n = F.col("n")

    def c(i: str, j: str) -> Column:
        a, b = sorted((i, j))
        return F.col(f"s{a}{b}") - F.col(f"s{a}") * F.col(f"s{b}") / n

    def r2(y: str, a: str, b: str) -> Column:
        # regress x_y on (x_a, x_b): Cramer on the centered 2x2 system
        caa, cbb, cab = c(a, a), c(b, b), c(a, b)
        cay, cby = c(a, y), c(b, y)
        det = caa * cbb - cab * cab
        b1 = (cbb * cay - cab * cby) / det
        b2 = (caa * cby - cab * cay) / det
        return (b1 * cay + b2 * cby) / c(y, y)

    return m.select(
        n.cast("long").alias("n_rows"),
        qround(F.lit(1.0) / (F.lit(1.0) - r2("1", "2", "3")), 6).alias("vif_qty"),
        qround(F.lit(1.0) / (F.lit(1.0) - r2("2", "1", "3")), 6).alias(
            "vif_discount"
        ),
        qround(F.lit(1.0) / (F.lit(1.0) - r2("3", "1", "2")), 6).alias("vif_tax"),
    )


def partial_corr_price(lineitem: DataFrame) -> DataFrame:
    """First-order partial correlation of (l_extendedprice, l_quantity)
    CONTROLLING for l_discount — how much of the price–quantity
    association survives once the discount channel is removed:

        r_xy.z = (r_xy − r_xz·r_zy) / √((1 − r_xz²)(1 − r_zy²))

    All three pairwise correlations come from the same single moment
    aggregate (exact decimal sums); one row out.
    """
    x = F.col("l_extendedprice").cast("double")
    y = F.col("l_quantity").cast("double")
    z = F.col("l_discount").cast("double")
    m = lineitem.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(x).alias("sx"),
        _dsum38(y).alias("sy"),
        _dsum38(z).alias("sz"),
        _dsum38(x * x).alias("sxx"),
        _dsum38(y * y).alias("syy"),
        _dsum38(z * z).alias("szz"),
        _dsum38(x * y).alias("sxy"),
        _dsum38(x * z).alias("sxz"),
        _dsum38(y * z).alias("syz"),
    )
    n = F.col("n")

    def corr(a: str, b: str) -> Column:
        ab = "s" + "".join(sorted((a, b)))
        caa = F.col(f"s{a}{a}") - F.col(f"s{a}") * F.col(f"s{a}") / n
        cbb = F.col(f"s{b}{b}") - F.col(f"s{b}") * F.col(f"s{b}") / n
        cab = F.col(ab) - F.col(f"s{a}") * F.col(f"s{b}") / n
        return cab / F.sqrt(caa * cbb)

    rxy, rxz, rzy = corr("x", "y"), corr("x", "z"), corr("y", "z")
    return m.select(
        n.cast("long").alias("n_rows"),
        qround(rxy, 6).alias("r_price_qty"),
        qround(rxz, 6).alias("r_price_discount"),
        qround(rzy, 6).alias("r_qty_discount"),
        qround(
            (rxy - rxz * rzy)
            / F.sqrt((F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - rzy * rzy)),
            6,
        ).alias("partial_r"),
    )


INFLUENCE_TOPK = 10


def regression_influence_topk(
    lineitem: DataFrame, top_k: int = INFLUENCE_TOPK
) -> DataFrame:
    """Cook's-distance influence screen for the OLS price model
    (y = l_extendedprice ~ l_quantity + l_discount): the model-diagnostics
    layer — WHICH rows move the fit, before anyone trusts it.

        h_i = 1/n + x̃_iᵀ C⁻¹ x̃_i          (leverage, centered features)
        D_i = e_i²/(p·s²) · h_i/(1−h_i)²    (p = 3, s² = SSE/(n−p))

    One moment aggregate fits the model AND inverts the 2×2 centered
    Gram in closed form (broadcast scalar row); leverage, residual and
    D are then per-row map arithmetic — no second shuffle — and top-k is
    a TakeOrderedAndProject (never a global sort). Deterministic: ties
    broken by (orderkey, linenumber).
    """
    y = F.col("l_extendedprice").cast("double")
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    # spread(): the moment aggregate AND the per-row leverage/Cook's-D
    # arithmetic otherwise run on the single-row-group scan's ONE task
    base = spread(
        lineitem.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").alias("lno"),
            y.alias("y"),
            x1.alias("x1"),
            x2.alias("x2"),
        )
    )
    m = base.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(F.col("x1")).alias("s1"),
        _dsum38(F.col("x2")).alias("s2"),
        _dsum38(F.col("y")).alias("sy"),
        _dsum38(F.col("x1") * F.col("x1")).alias("s11"),
        _dsum38(F.col("x2") * F.col("x2")).alias("s22"),
        _dsum38(F.col("x1") * F.col("x2")).alias("s12"),
        _dsum38(F.col("x1") * F.col("y")).alias("s1y"),
        _dsum38(F.col("x2") * F.col("y")).alias("s2y"),
        _dsum38(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    sse = cyy - b1 * c1y - b2 * c2y
    fit = F.broadcast(
        m.select(
            n.alias("nn"),
            b1.alias("b1"),
            b2.alias("b2"),
            (F.col("s1") / n).alias("m1"),
            (F.col("s2") / n).alias("m2"),
            (F.col("sy") / n).alias("my"),
            (c22 / det).alias("i11"),
            (-c12 / det).alias("i12"),
            (c11 / det).alias("i22"),
            (sse / (n - 3)).alias("s2e"),
        )
    )
    per = base.crossJoin(fit)
    d1 = F.col("x1") - F.col("m1")
    d2 = F.col("x2") - F.col("m2")
    h = (
        F.lit(1.0) / F.col("nn")
        + d1 * (F.col("i11") * d1 + F.col("i12") * d2)
        + d2 * (F.col("i12") * d1 + F.col("i22") * d2)
    )
    e = F.col("y") - (
        F.col("my")
        + F.col("b1") * d1
        + F.col("b2") * d2
    )
    cook = (
        e * e / (F.lit(3.0) * F.col("s2e")) * (h / ((F.lit(1.0) - h) * (F.lit(1.0) - h)))
    )
    scored = per.select(
        "okey",
        "lno",
        qround(h, 9).alias("leverage"),
        qround(e, 4).alias("residual"),
        cook.alias("cook_raw"),
    )
    top = scored.orderBy(
        F.col("cook_raw").desc(), F.col("okey"), F.col("lno")
    ).limit(top_k)
    w = Window.orderBy(F.col("cook_raw").desc(), F.col("okey"), F.col("lno"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("int").alias("rank"),
        F.col("okey").alias("l_orderkey"),
        F.col("lno").alias("l_linenumber"),
        "leverage",
        "residual",
        qround(F.col("cook_raw"), 9).alias("cooks_d"),
    )


def levene_brown_forsythe(orders: DataFrame) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test (Brown & Forsythe 1974,
    public) of ``o_totalprice`` across the five priorities: one-way
    ANOVA on z = |x − median_g| — the median-centred Levene variant
    that stays valid under skew. Completes the classical suite next to
    anova_oneway_priority (means) and kruskal_wallis_priority (ranks).

    Pass 1 finds each group's EXACT median (type-1 lower order
    statistic, rank ⌈n_g/2⌉) with :func:`bucketed_prefix` partitioned
    by group — distinct-value frames keyed (group, bucket), per-bucket
    windows only, the group key never sorts more than one bucket. Pass 2
    is the one-aggregate ANOVA F on |x − med_g| with the broadcast 5-row
    median table. Two data passes total at any corpus size.
    """
    x = F.col("o_totalprice").cast("double")
    # spread(): the map phases below otherwise run on the single-row-group
    # scan's ONE task (see ridge_regression_price)
    base = spread(orders.select(F.col("o_orderpriority").alias("grp"), x.alias("v")))
    vals = (
        base.groupBy("grp", "v")
        .agg(F.count("*").alias("cnt"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    ranked = bucketed_prefix(vals, "v", ("cnt",), group=("grp",))
    half = F.ceil(F.col("n_cnt").cast("double") / 2.0)
    med = F.broadcast(
        ranked.filter((F.col("cum_cnt") - F.col("cnt")) < half)
        .filter(F.col("cum_cnt") >= half)
        .select("grp", F.col("v").alias("med"))
    )
    z = F.abs(F.col("v") - F.col("med"))
    g = base.join(med, "grp").groupBy("grp").agg(
        F.count("*").cast("double").alias("ng"),
        _dsum38(z).alias("sz"),
        _dsum38(z * z).alias("szz"),
    )
    agg = g.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("ng").cast(DEC38)).cast("double").alias("n_total"),
        F.sum(F.col("sz").cast(DEC38)).cast("double").alias("sz_all"),
        F.sum(F.col("szz").cast(DEC38)).cast("double").alias("szz_all"),
        F.sum((F.col("sz") * F.col("sz") / F.col("ng")).cast(DEC38))
        .cast("double")
        .alias("sb_raw"),
    )
    n, k = F.col("n_total"), F.col("k_groups").cast("double")
    ssb = F.col("sb_raw") - F.col("sz_all") * F.col("sz_all") / n
    sst = F.col("szz_all") - F.col("sz_all") * F.col("sz_all") / n
    ssw = sst - ssb
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return agg.select(
        n.cast("long").alias("n_total"),
        "k_groups",
        qround(f, 6).alias("f_stat"),
        qround(ssb / sst, 9).alias("eta_squared"),
    )


# --- econometric / time-series diagnostics (round-9 session 2, batch 5) ----

JB_SCALE = 100_000.0  # price rescale: skew/kurtosis are scale-invariant,
# and x^4 on O(1) values keeps the DECIMAL(38,8) lanes far from range


def jarque_bera_price(orders: DataFrame) -> DataFrame:
    """Jarque–Bera normality test (Jarque & Bera 1980, public) of order
    values: JB = n/6·(S² + (K−3)²/4) from exact third/fourth moments —
    the distribution-shape screen behind every "assume normal" step.

    ONE map-side-combined aggregate of Σx..Σx⁴ (x pre-scaled by 1e-5 —
    skewness/kurtosis are scale-invariant and the quartic stays O(1) per
    row, keeping the DECIMAL(38,8) sums far inside range at any SF);
    central moments, S, K, JB are scalar expressions with the identical
    shape on both engines. p = exp(−JB/2) is the EXACT χ²(2) survival
    function — no approximation polynomial needed.
    """
    x = F.col("o_totalprice").cast("double") / F.lit(JB_SCALE)
    m = orders.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(x).alias("s1"),
        _dsum38(x * x).alias("s2"),
        _dsum38(x * x * x).alias("s3"),
        _dsum38(x * x * x * x).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - F.lit(3.0) * mu * F.col("s2") / n + F.lit(2.0) * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * F.col("s3") / n
        + F.lit(6.0) * mu * mu * F.col("s2") / n
        - F.lit(3.0) * mu * mu * mu * mu
    )
    s = m3 / (m2 * F.sqrt(m2))
    k = m4 / (m2 * m2)
    jb = n / F.lit(6.0) * (s * s + (k - F.lit(3.0)) * (k - F.lit(3.0)) / F.lit(4.0))
    return m.select(
        n.cast("long").alias("n_rows"),
        qround(s, 6).alias("skewness"),
        qround(k, 6).alias("kurtosis"),
        qround(jb, 4).alias("jb_stat"),
        qround(F.exp(F.lit(-0.5) * jb), 6).alias("p_value"),
    )


def durbin_watson_daily(orders: DataFrame) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of the residuals from
    the daily-revenue-on-time OLS trend: DW = Σ(e_t−e_{t−1})² / Σe_t² —
    the "is the trend model leaving structure behind" diagnostic that
    pairs with autocorr_daily_revenue (raw series) and forecast_backtest
    (model errors).

    The daily frame is CALENDAR-BOUNDED (the theil_sen argument), so the
    one ordered lag window is schema-bounded; the data-sized work is the
    single daily aggregate. Fit and residuals use exact decimal moment
    sums and identical scalar shapes on both engines.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    d = daily.select(
        F.datediff(F.col("day"), F.lit(TS_BASE_DATE).cast("date"))
        .cast("double")
        .alias("t"),
        "y",
        "day",
    )
    m = F.broadcast(
        d.agg(
            F.count("*").cast("double").alias("n"),
            _dsum38(F.col("t")).alias("st"),
            _dsum38(F.col("y")).alias("sy"),
            _dsum38(F.col("t") * F.col("t")).alias("stt"),
            _dsum38(F.col("t") * F.col("y")).alias("sty"),
        ).select(
            "n",
            (
                (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
                / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
            ).alias("slope"),
            "st",
            "sy",
        ).select(
            "n",
            "slope",
            ((F.col("sy") - F.col("slope") * F.col("st")) / F.col("n")).alias(
                "icept"
            ),
        )
    )
    e = d.crossJoin(m).select(
        "day",
        "n",
        "slope",
        (F.col("y") - (F.col("icept") + F.col("slope") * F.col("t"))).alias("e"),
    )
    w = Window.orderBy("day")
    lagged = e.select("n", "slope", "e", F.lag("e", 1).over(w).alias("ep"))
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.max("slope").alias("slope"),
        _dsum38(F.col("e") * F.col("e")).alias("sse"),
        _dsum38(
            (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
        ).alias("sdd"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        qround(F.col("slope"), 6).alias("slope_per_day"),
        qround(F.col("sdd") / F.col("sse"), 6).alias("dw_stat"),
    )


def breusch_pagan_price(lineitem: DataFrame) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test (Breusch & Pagan 1979 /
    Koenker 1981 studentized form, public) for the OLS price model:
    regress squared residuals on the features; LM = n·R²_aux ~ χ²(2).
    The diagnostic that says whether regression_influence_topk's s² is
    even a constant — and the third member of the closed-form-GLM family
    (fit → influence → specification).

    Two aggregates total: the OLS fit (broadcast one-row), then a second
    moment aggregate over (e², x1, x2) with e² computed as per-row map
    arithmetic. p = exp(−LM/2), the exact χ²(2) survival.
    """
    y = F.col("l_extendedprice").cast("double")
    x1 = F.col("l_quantity").cast("double")
    x2 = F.col("l_discount").cast("double")
    # spread(): both moment aggregates below otherwise run their partial
    # phase on the single-row-group scan's ONE task (see
    # ridge_regression_price)
    base = spread(lineitem.select(y.alias("y"), x1.alias("x1"), x2.alias("x2")))
    m = base.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(F.col("x1")).alias("s1"),
        _dsum38(F.col("x2")).alias("s2"),
        _dsum38(F.col("y")).alias("sy"),
        _dsum38(F.col("x1") * F.col("x1")).alias("s11"),
        _dsum38(F.col("x2") * F.col("x2")).alias("s22"),
        _dsum38(F.col("x1") * F.col("x2")).alias("s12"),
        _dsum38(F.col("x1") * F.col("y")).alias("s1y"),
        _dsum38(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    fit = F.broadcast(
        m.select(
            ((c22 * c1y - c12 * c2y) / det).alias("b1"),
            ((c11 * c2y - c12 * c1y) / det).alias("b2"),
            (F.col("s1") / n).alias("m1"),
            (F.col("s2") / n).alias("m2"),
            (F.col("sy") / n).alias("my"),
        )
    )
    u = base.crossJoin(fit).select(
        "x1",
        "x2",
        (
            (
                F.col("y")
                - (
                    F.col("my")
                    + F.col("b1") * (F.col("x1") - F.col("m1"))
                    + F.col("b2") * (F.col("x2") - F.col("m2"))
                )
            )
        ).alias("e"),
    ).select("x1", "x2", (F.col("e") * F.col("e")).alias("u"))
    a = u.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(F.col("x1")).alias("s1"),
        _dsum38(F.col("x2")).alias("s2"),
        _dsum38(F.col("u")).alias("su"),
        _dsum38(F.col("x1") * F.col("x1")).alias("s11"),
        _dsum38(F.col("x2") * F.col("x2")).alias("s22"),
        _dsum38(F.col("x1") * F.col("x2")).alias("s12"),
        _dsum38(F.col("x1") * F.col("u")).alias("s1u"),
        _dsum38(F.col("x2") * F.col("u")).alias("s2u"),
        _dsum38(F.col("u") * F.col("u")).alias("suu"),
    )
    d11 = F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")
    d22 = F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")
    d12 = F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")
    d1u = F.col("s1u") - F.col("s1") * F.col("su") / F.col("n")
    d2u = F.col("s2u") - F.col("s2") * F.col("su") / F.col("n")
    duu = F.col("suu") - F.col("su") * F.col("su") / F.col("n")
    ddet = d11 * d22 - d12 * d12
    g1 = (d22 * d1u - d12 * d2u) / ddet
    g2 = (d11 * d2u - d12 * d1u) / ddet
    r2 = (g1 * d1u + g2 * d2u) / duu
    lm = F.col("n") * r2
    return a.select(
        F.col("n").cast("long").alias("n_rows"),
        qround(r2, 9).alias("r2_aux"),
        qround(lm, 4).alias("lm_stat"),
        qround(F.exp(F.lit(-0.5) * lm), 6).alias("p_value"),
    )


CHOW_BREAK_DATE = "1995-07-01"


def chow_break_test(orders: DataFrame) -> DataFrame:
    """Chow structural-break test (Chow 1960, public) of the daily
    revenue trend at a candidate break date: did (intercept, slope)
    change between the two regimes?

        F = ((SSE_p − SSE_1 − SSE_2) / k) / ((SSE_1 + SSE_2) / (n − 2k))

    with k = 2. All three fits come from ONE aggregate over the
    calendar-bounded daily frame — pooled moments are the sums of the
    per-regime conditional moments, so nothing is scanned twice; SSE is
    the closed form Cyy − (Cty)²/Ctt per regime. cusum_changepoint finds
    WHERE the break is; this tests WHETHER a hypothesized one is real.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    d = daily.select(
        F.datediff(F.col("day"), F.lit(TS_BASE_DATE).cast("date"))
        .cast("double")
        .alias("t"),
        "y",
        (F.col("day") < F.lit(CHOW_BREAK_DATE).cast("date")).alias("pre"),
    )

    def side(pred, tag):
        w = F.when(pred, F.col("t")), F.when(pred, F.col("y"))
        return [
            F.count(F.when(pred, 1)).cast("double").alias(f"n_{tag}"),
            _dsum38(w[0]).alias(f"st_{tag}"),
            _dsum38(w[1]).alias(f"sy_{tag}"),
            _dsum38(F.when(pred, F.col("t") * F.col("t"))).alias(f"stt_{tag}"),
            _dsum38(F.when(pred, F.col("t") * F.col("y"))).alias(f"sty_{tag}"),
            _dsum38(F.when(pred, F.col("y") * F.col("y"))).alias(f"syy_{tag}"),
        ]

    m = d.agg(*side(F.col("pre"), "a"), *side(~F.col("pre"), "b"))

    def sse(tag: str) -> Column:
        n = F.col(f"n_{tag}")
        ctt = F.col(f"stt_{tag}") - F.col(f"st_{tag}") * F.col(f"st_{tag}") / n
        cty = F.col(f"sty_{tag}") - F.col(f"st_{tag}") * F.col(f"sy_{tag}") / n
        cyy = F.col(f"syy_{tag}") - F.col(f"sy_{tag}") * F.col(f"sy_{tag}") / n
        return cyy - cty * cty / ctt

    na, nb = F.col("n_a"), F.col("n_b")
    np_ = na + nb
    stp = F.col("st_a") + F.col("st_b")
    syp = F.col("sy_a") + F.col("sy_b")
    cttp = F.col("stt_a") + F.col("stt_b") - stp * stp / np_
    ctyp = F.col("sty_a") + F.col("sty_b") - stp * syp / np_
    cyyp = F.col("syy_a") + F.col("syy_b") - syp * syp / np_
    sse_p = cyyp - ctyp * ctyp / cttp
    s1, s2 = sse("a"), sse("b")
    f = ((sse_p - s1 - s2) / F.lit(2.0)) / ((s1 + s2) / (np_ - F.lit(4.0)))
    return m.select(
        na.cast("long").alias("n_days_pre"),
        nb.cast("long").alias("n_days_post"),
        qround(f, 4).alias("f_stat"),
        qround((sse_p - s1 - s2) / sse_p, 9).alias("sse_drop_share"),
    )


def runs_test_daily(orders: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test of randomness for daily revenue around
    its median: too FEW runs of above/below-median days means sticky
    regimes (trend/autocorrelation), too many means oscillation.

        z = (R − E[R]) / √Var[R],  E[R] = 1 + 2·n₁n₂/n

    The frame is calendar-bounded; the median is the exact type-1 lower
    order statistic over ~2.4k days (one bounded window), days equal to
    the median are excluded (the standard convention), and the run count
    is a lag comparison over the ordered bounded frame.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    nrow = daily.agg(F.count("*").alias("nd"))
    w_rank = Window.orderBy("y", "day")
    med = F.broadcast(
        daily.crossJoin(F.broadcast(nrow))
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == F.ceil(F.col("nd").cast("double") / 2.0))
        .select(F.col("y").alias("med"))
    )
    signs = (
        daily.crossJoin(med)
        .filter(F.col("y") != F.col("med"))
        .select("day", (F.col("y") > F.col("med")).alias("up"))
    )
    w = Window.orderBy("day")
    runs = signs.select(
        "up",
        F.when(
            F.lag("up", 1).over(w).isNull()
            | (F.lag("up", 1).over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(~F.col("up"), 1).otherwise(0)).cast("double").alias("n2"),
        F.sum("new_run").cast("double").alias("r"),
    )
    n, n1, n2, r = F.col("n"), F.col("n1"), F.col("n2"), F.col("r")
    er = F.lit(1.0) + F.lit(2.0) * n1 * n2 / n
    vr = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - 1))
    )
    return agg.select(
        n.cast("long").alias("n_days_used"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        # one-sided degenerate input (every kept day on the same side of
        # the median) has Var[R] = 0 — z is undefined; NULL on BOTH
        # engines (the forecast_backtest MAPE-guard convention)
        F.when(vr > 0, qround((r - er) / F.sqrt(vr), 6)).alias("z_score"),
    )


def pacf_daily_revenue(orders: DataFrame) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1–3 via the
    closed-form Durbin–Levinson/Cramer solutions on the sample ACF —
    autocorr_daily_revenue says WHAT correlates; PACF says what remains
    AFTER shorter lags are regressed out (the AR-order pick):

        φ₁₁ = r₁,   φ₂₂ = (r₂ − r₁²)/(1 − r₁²),
        φ₃₃ = det(T₃ with col 3 := r) / det(T₃)       (3×3 Toeplitz)

    Same bounded-frame plan as the ACF (one daily aggregate, one
    calendar-bounded lag window); the Toeplitz determinants are scalar
    expressions with identical shapes on both engines.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (dsum(F.col("o_totalprice")) / F.lit(ACF_REV_SCALE)).alias("x")
    )
    mu = daily.agg(
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mu")).alias("dv")
    )
    w = Window.orderBy("day")
    lagged = dev.select(
        "dv", *[F.lag("dv", k).over(w).alias(f"l{k}") for k in (1, 2, 3)]
    )
    agg = lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        dsum(F.col("dv") * F.col("dv")).alias("den"),
        *[dsum(F.col("dv") * F.col(f"l{k}")).alias(f"num{k}") for k in (1, 2, 3)],
    )
    r1 = F.col("num1") / F.col("den")
    r2 = F.col("num2") / F.col("den")
    r3 = F.col("num3") / F.col("den")
    p2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    det_t = (
        F.lit(1.0)
        - F.lit(2.0) * r1 * r1
        - r2 * r2
        + F.lit(2.0) * r1 * r1 * r2
    )
    # det of T3 with column 3 := (r1,r2,r3), expanded along row 1:
    # M = [[1,r1,r1],[r1,1,r2],[r2,r1,r3]]
    det_m = (
        (r3 - r1 * r2)
        - r1 * (r1 * r3 - r2 * r2)
        + r1 * (r1 * r1 - r2)
    )
    return agg.select(
        "n_days",
        qround(r1, 6).alias("r1"),
        qround(r2, 6).alias("r2"),
        qround(r3, 6).alias("r3"),
        qround(r1, 6).alias("pacf1"),
        qround(p2, 6).alias("pacf2"),
        qround(det_m / det_t, 6).alias("pacf3"),
    )


def max_drawdown_daily(orders: DataFrame) -> DataFrame:
    """Maximum drawdown of the daily-revenue series: the worst
    peak-to-trough decline (running max minus current, relative to the
    peak) — the risk-ops lens on revenue volatility that cusum/hampel
    (level shifts, point outliers) don't capture.

    Calendar-bounded daily frame (theil_sen argument): one data-sized
    aggregate, then a running-max window and an argmax pick over ~2.4k
    rows. Deterministic: drawdown ties broken by earliest day; exact
    decimal daily sums; the relative drawdown is the only division.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("y")
    )
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak", F.max("y").over(w_run)).select(
        "day",
        "y",
        "peak",
        (F.col("peak") - F.col("y")).alias("dd_abs"),
        ((F.col("peak") - F.col("y")) / F.col("peak")).alias("dd_rel"),
    )
    w_pick = Window.orderBy(F.col("dd_rel").desc(), F.col("day"))
    worst = dd.withColumn("rk", F.row_number().over(w_pick)).filter(
        F.col("rk") == 1
    )
    nd = daily.agg(F.count("*").cast("long").alias("n_days"))
    return worst.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("day").cast("date").cast("timestamp").alias("trough_day"),
        qround(F.col("peak"), 4).alias("peak_revenue"),
        qround(F.col("y"), 4).alias("trough_revenue"),
        qround(F.col("dd_abs"), 4).alias("max_drawdown_abs"),
        qround(F.col("dd_rel"), 6).alias("max_drawdown_rel"),
    )


ABC_CUTS = (0.5, 0.8)  # cumulative revenue share: A <= 50%, B <= 80%, C rest
XYZ_CUTS = (0.5, 1.0)  # monthly-demand CV: X < 0.5, Y < 1.0, Z rest
ABC_BUCKET_LOG = 10.0  # revenue-magnitude bucket base for the prefix rank


def abc_xyz_parts(lineitem: DataFrame) -> DataFrame:
    """ABC–XYZ inventory classification (classic operations analytics,
    public): ABC = cumulative-revenue-share class of each part (ranked
    by revenue, descending); XYZ = demand-variability class from the
    coefficient of variation of monthly ordered quantity. The 3×3 matrix
    of (value, predictability) drives stocking policy.

    The ABC cumulative share over the part frame (data-sized: millions
    of parts at 100 TB) uses the bucketed two-pass prefix: parts bucket
    by floor(log10(revenue)), bucket totals broadcast as exclusive
    offsets, within-bucket running sums — no unpartitioned window over
    the part frame anywhere. XYZ moments come from the same
    (part, month) aggregate. Output: 9-cell matrix with part counts and
    revenue share per cell.
    """
    base = lineitem.select(
        "l_partkey",
        (F.col("l_extendedprice").cast("double")).alias("rev"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.date_trunc("month", F.col("l_shipdate")).alias("month"),
    )
    pm = base.groupBy("l_partkey", "month").agg(
        dsum(F.col("qty")).alias("mq"), dsum(F.col("rev")).alias("mr")
    )
    parts = pm.groupBy("l_partkey").agg(
        F.sum(F.col("mr").cast(DEC38)).cast("double").alias("rev"),
        F.count("*").cast("double").alias("nm"),
        F.sum(F.col("mq").cast(DEC38)).cast("double").alias("sq"),
        F.sum((F.col("mq") * F.col("mq")).cast(DEC38)).cast("double").alias("sqq"),
    )
    # XYZ: CV of monthly quantity (population SD over observed months)
    mean_q = F.col("sq") / F.col("nm")
    var_q = F.col("sqq") / F.col("nm") - mean_q * mean_q
    cv = F.sqrt(F.greatest(var_q, F.lit(0.0))) / mean_q
    # ABC: bucketed exclusive prefix of revenue DESC
    scored = parts.select(
        "l_partkey",
        "rev",
        cv.alias("cv"),
        (-F.floor(F.log10(F.greatest(F.col("rev"), F.lit(1.0))))).alias("bucket"),
    ).localCheckpoint()
    buckets = scored.groupBy("bucket").agg(
        F.sum(F.col("rev").cast(DEC38)).cast("double").alias("bt")
    )
    prev = F.broadcast(
        buckets.select(F.col("bucket").alias("pb"), F.col("bt").alias("pt"))
    )
    offsets = (
        buckets.join(prev, F.col("pb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum(F.col("pt").cast(DEC38)).cast("double"), F.lit(0.0)).alias(
                "off"
            )
        )
    )
    # total revenue from the CHECKPOINTED part frame: aggregating `parts`
    # here re-executed the full (part, month) + part two-level aggregate
    # from the scan a second time (r14 measured); `scored` carries the
    # identical per-part rev doubles and the DEC38 sum is
    # order-insensitive, so the value is bit-identical
    tot = F.broadcast(
        scored.agg(F.sum(F.col("rev").cast(DEC38)).cast("double").alias("tr"))
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        scored.join(F.broadcast(offsets), "bucket")
        .crossJoin(tot)
        .withColumn(
            "cum_before",
            F.col("off")
            + F.coalesce(
                F.sum(F.col("rev").cast(DEC38)).over(w_in).cast("double"),
                F.lit(0.0),
            ),
        )
    )
    share_before = F.col("cum_before") / F.col("tr")
    abc = (
        F.when(share_before < ABC_CUTS[0], "A")
        .when(share_before < ABC_CUTS[1], "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("cv") < XYZ_CUTS[0], "X")
        .when(F.col("cv") < XYZ_CUTS[1], "Y")
        .otherwise("Z")
    )
    return (
        ranked.select(abc.alias("abc"), xyz.alias("xyz"), "rev", "tr")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            qround(
                F.sum(F.col("rev").cast(DEC38)).cast("double") / F.max("tr"), 6
            ).alias("revenue_share"),
        )
    )


# lane quantum must be COARSER than the DECIMAL(38,8) sum scale: a
# 1e-9-quantized value is an exact tie at the 8th decimal ~10% of the
# time, and Spark (HALF_UP) and DuckDB (HALF_EVEN) break ties differently
ELASTICITY_LN_SCALE = 8


def price_elasticity_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log OLS slope of
    quantity on unit price within each brand — THE pricing-analytics
    primitive (ε < −1 elastic, −1 < ε < 0 inelastic).

    One lineitem⋈part shuffle join, then ONE map-side-combined moment
    aggregate per brand over (ln unit_price, ln qty) — both logs
    quantized to 1e-9 (the engine-shared libm lane) so the per-brand
    closed-form slope/R² are bit-identical across engines. ~25 rows out;
    the brand frame is schema-bounded.
    """
    up = F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast(
        "double"
    )
    x = qround(F.log(up), ELASTICITY_LN_SCALE)
    y = qround(F.log(F.col("l_quantity").cast("double")), ELASTICITY_LN_SCALE)
    # spread(): with the part side broadcast, scan → ln-lane map → join →
    # per-brand partial aggregate is ONE fused stage — on the
    # single-row-group scan's ONE task without the fan-out. The ln lanes
    # are computed AFTER the fan-out (post-shuffle projection), so the
    # libm work parallelizes too.
    j = (
        spread(lineitem.select("l_partkey", "l_extendedprice", "l_quantity"))
        .select("l_partkey", x.alias("x"), y.alias("y"))
        .join(
            part.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    g = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(F.col("x")).alias("sx"),
        _dsum38(F.col("y")).alias("sy"),
        _dsum38(F.col("x") * F.col("x")).alias("sxx"),
        _dsum38(F.col("x") * F.col("y")).alias("sxy"),
        _dsum38(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return g.select(
        "brand",
        n.cast("long").alias("n_items"),
        qround(cxy / cxx, 6).alias("elasticity"),
        # 6 dp, not 9: the 1e-9 ln lanes leave a ~1e-12 relative drift in
        # the moment sums (a few per-row quantizations sit on engine ulp
        # boundaries), which a 9-dp pin would re-expose in R**2
        qround(cxy * cxy / (cxx * cyy), 6).alias("r_squared"),
    )


# --- interpolated quantiles / concentration / sampling design (batch 8) ----

PCONT_PS = (0.25, 0.5, 0.75)


def percentile_cont_priority(orders: DataFrame) -> DataFrame:
    """Interpolated PERCENTILE_CONT(0.25/0.5/0.75) of order value per
    priority — the SQL-standard linear-interpolation quantile surface
    (the discrete cousins live in quantile_disc_price /
    segment_percentiles). Both engines compute the SAME construction
    (h = (n−1)p + 1; x_⌊h⌋ + frac·(x_⌊h⌋₊₁ − x_⌊h⌋)) rather than
    trusting either engine's native quantile_cont, so the interpolation
    arithmetic is engine-identical by shape.

    Scale: :func:`bucketed_prefix` partitioned by group indexes
    distinct values without any group-wide sort; the six needed order
    statistics per group are conditional picks over the ranked
    distinct-value frame.
    """
    x = F.col("o_totalprice").cast("double")
    base = orders.select(F.col("o_orderpriority").alias("grp"), x.alias("v"))
    vals = (
        base.groupBy("grp", "v")
        .agg(F.count("*").alias("cnt"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    ranked = bucketed_prefix(vals, "v", ("cnt",), group=("grp",))

    def stat_at(idx: Column) -> Column:
        # value of the idx-th order statistic: the distinct value whose
        # cumulative range covers idx
        cum = F.col("cum_cnt")
        covers = ((cum - F.col("cnt")) < idx) & (cum >= idx)
        return F.max(F.when(covers, F.col("v")))

    aggs: list[Column] = [F.max("n_cnt").cast("long").alias("n")]
    for p in PCONT_PS:
        tag = str(int(p * 100))
        h = (F.col("n_cnt").cast("double") - 1.0) * F.lit(p) + 1.0
        lo = F.floor(h)
        aggs.append(stat_at(lo).alias(f"lo{tag}"))
        aggs.append(stat_at(lo + 1).alias(f"hi{tag}"))
        aggs.append(F.max(h - lo.cast("double")).alias(f"fr{tag}"))
    g = ranked.groupBy("grp").agg(*aggs)
    outs: list[Column] = [F.col("grp").alias("priority"), F.col("n")]
    for p in PCONT_PS:
        tag = str(int(p * 100))
        lo, hi, fr = F.col(f"lo{tag}"), F.col(f"hi{tag}"), F.col(f"fr{tag}")
        v = lo + fr * (F.coalesce(hi, lo) - lo)
        outs.append(qround(v, 4).alias(f"p{tag}"))
    return g.select(*outs)


def hhi_brand_concentration(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Herfindahl–Hirschman index of brand revenue concentration — the
    antitrust-grade market-structure scalar (Σ of squared percent
    shares, 0..10000; >2500 = highly concentrated) plus the effective
    number of competitors 1/Σ share². One join + one brand aggregate +
    one 25-row reduction; shares are exact decimal-sum ratios.
    """
    j = lineitem.select(
        "l_partkey", F.col("l_extendedprice").cast("double").alias("rev")
    ).join(
        part.select("p_partkey", "p_brand"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    g = j.groupBy("p_brand").agg(_dsum38(F.col("rev")).alias("rev"))
    tot = F.broadcast(
        g.agg(F.sum(F.col("rev").cast(DEC38)).cast("double").alias("tr"))
    )
    s = g.crossJoin(tot).select((F.col("rev") / F.col("tr")).alias("share"))
    agg = s.agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum(
            (
                (F.lit(100.0) * F.col("share"))
                * (F.lit(100.0) * F.col("share"))
            ).cast(DEC38)
        )
        .cast("double")
        .alias("hhi_raw"),
        F.sum((F.col("share") * F.col("share")).cast(DEC38))
        .cast("double")
        .alias("ss"),
        F.max("share").alias("top"),
    )
    return agg.select(
        "n_brands",
        qround(F.col("hhi_raw"), 4).alias("hhi"),
        qround(F.lit(1.0) / F.col("ss"), 4).alias("effective_n"),
        qround(F.col("top"), 6).alias("top_share"),
    )


THEIL_LN_SCALE = 8  # ln lane — never finer than the DECIMAL sum scale


def theil_index_revenue(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Theil T inequality index of per-customer revenue with its exact
    between/within-segment decomposition — the lens Gini can't give:
    HOW MUCH of the concentration is segment structure vs within-segment
    spread (T = T_between + Σ_g s_g·T_g).

        T = (1/n) Σᵢ (xᵢ/μ)·ln(xᵢ/μ)

    Two customer-frame passes (the frame is customer-sized, the
    data-sized work is one orders aggregate): global/segment totals,
    then per-row ln terms on 1e-8 lanes summed in DECIMAL(38,8). The
    three indices are each computed directly from their own definition —
    no residual subtraction, so lane noise can't masquerade as a
    component.
    """
    percust = (
        orders.groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("x"))
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("seg"),
            ),
            "o_custkey",
        )
        .localCheckpoint()
    )
    tot = F.broadcast(
        percust.agg(
            F.count("*").cast("double").alias("n"),
            _dsum38(F.col("x")).alias("sx"),
        )
    )
    seg = percust.groupBy("seg").agg(
        F.count("*").cast("double").alias("n_g"),
        _dsum38(F.col("x")).alias("sx_g"),
    )
    # T_total: per-customer terms against the global mean
    rowt = percust.crossJoin(tot).select(
        (
            (F.col("x") / (F.col("sx") / F.col("n")))
            * qround(
                F.log(F.col("x") / (F.col("sx") / F.col("n"))), THEIL_LN_SCALE
            )
        ).alias("t")
    )
    t_total = rowt.agg(
        (F.sum(F.col("t").cast(DEC38)).cast("double")).alias("st")
    ).crossJoin(tot).select((F.col("st") / F.col("n")).alias("t_total"))
    # T_between: segment shares vs population shares (5-row frame)
    segx = seg.crossJoin(tot).select(
        (
            (F.col("sx_g") / F.col("sx"))
            * qround(
                F.log(
                    (F.col("sx_g") / F.col("sx")) / (F.col("n_g") / F.col("n"))
                ),
                THEIL_LN_SCALE,
            )
        ).alias("tb")
    )
    t_between = segx.agg(
        F.sum(F.col("tb").cast(DEC38)).cast("double").alias("t_between")
    )
    # T_within: Σ_g (X_g/X) T_g with T_g from per-row terms vs segment mean
    roww = percust.join(F.broadcast(seg), "seg").select(
        "seg",
        (
            (F.col("x") / (F.col("sx_g") / F.col("n_g")))
            * qround(
                F.log(F.col("x") / (F.col("sx_g") / F.col("n_g"))),
                THEIL_LN_SCALE,
            )
        ).alias("t"),
        F.col("n_g"),
        F.col("sx_g"),
    )
    tg = roww.groupBy("seg").agg(
        (F.sum(F.col("t").cast(DEC38)).cast("double") / F.max("n_g")).alias(
            "t_g"
        ),
        F.max("sx_g").alias("sx_g"),
    )
    t_within = tg.crossJoin(tot).agg(
        F.sum(((F.col("sx_g") / F.col("sx")) * F.col("t_g")).cast(DEC38))
        .cast("double")
        .alias("t_within")
    )
    n_out = percust.agg(F.count("*").cast("long").alias("n_customers"))
    return (
        n_out.crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(t_between))
        .crossJoin(F.broadcast(t_within))
        .select(
            "n_customers",
            qround(F.col("t_total"), 6).alias("theil_total"),
            qround(F.col("t_between"), 6).alias("theil_between"),
            qround(F.col("t_within"), 6).alias("theil_within"),
        )
    )


NEYMAN_BUDGET = 10_000


def neyman_allocation(customer: DataFrame, budget: int = NEYMAN_BUDGET) -> DataFrame:
    """Neyman-optimal stratified-sample allocation (Neyman 1934, public)
    for estimating mean account balance with segment strata:
    n_h ∝ N_h·S_h — the sampling-design layer on top of the engine's
    samplers (stratified_sample draws; this says HOW MANY to draw).

    One moment aggregate per stratum; S_h is the exact-decimal sample
    SD; the allocation shares and rounded sizes are scalar arithmetic on
    the 5-row frame.
    """
    x = F.col("c_acctbal").cast("double")
    g = customer.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("double").alias("nh"),
        _dsum38(x).alias("sx"),
        _dsum38(x * x).alias("sxx"),
    )
    sh = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nh"))
        / (F.col("nh") - 1)
    )
    scored = g.select("segment", "nh", sh.alias("sh"))
    tot = F.broadcast(
        scored.agg(
            F.sum((F.col("nh") * F.col("sh")).cast(DEC38))
            .cast("double")
            .alias("d")
        )
    )
    out = scored.crossJoin(tot).select(
        "segment",
        F.col("nh").cast("long").alias("n_population"),
        qround(F.col("sh"), 6).alias("stratum_sd"),
        qround(F.col("nh") * F.col("sh") / F.col("d"), 6).alias("alloc_share"),
        F.ceil(F.lit(float(budget)) * F.col("nh") * F.col("sh") / F.col("d"))
        .cast("long")
        .alias("n_sample"),
    )
    return out


AB_Z_ALPHA2 = 1.959963984540054  # z_{0.025}: two-sided alpha = 0.05 (public)
AB_Z_BETA = 0.8416212335729143  # z_{0.20}: power = 0.80 (public)
AB_MDE_REL = 0.01  # minimum detectable effect: 1% of the mean


def ab_sample_size(orders: DataFrame) -> DataFrame:
    """A/B test sample-size planner: per-group n to detect a 1% lift in
    mean order value at alpha = 0.05 (two-sided), power = 0.80 —

        n = 2σ²(z_{α/2} + z_β)² / δ²

    the experimentation-design closer for the test family (welch /
    mann-whitney / permutation decide AFTER; this budgets BEFORE). One
    moment aggregate; the z constants are public table values baked as
    literals, so both engines run pure arithmetic.
    """
    x = F.col("o_totalprice").cast("double")
    m = orders.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(x).alias("sx"),
        _dsum38(x * x).alias("sxx"),
    )
    mu = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    delta = F.lit(AB_MDE_REL) * mu
    zsum = F.lit(AB_Z_ALPHA2) + F.lit(AB_Z_BETA)
    n_req = F.lit(2.0) * var * zsum * zsum / (delta * delta)
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        qround(mu, 4).alias("mean_value"),
        qround(F.sqrt(var), 4).alias("sd_value"),
        qround(delta, 4).alias("mde_abs"),
        F.ceil(n_req).cast("long").alias("n_per_group"),
    )


RMST_TAU = 365  # restricted-mean horizon (days)


def rmst_retention(orders: DataFrame, tau: int = RMST_TAU) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013 lineage,
    public): the area under the Kaplan–Meier curve up to τ — "expected
    retained days in the first year", the scalar that makes two survival
    curves comparable when medians never cross. COMPOSES
    :func:`kaplan_meier_retention` (shares its quantized-ln exactness)
    rather than re-deriving the curve.

        RMST(τ) = ∫₀^τ S(t) dt = Σ S(t_{i−1})·(min(t_i,τ) − t_{i−1}) + tail

    All post-KM work runs on the distinct-lifetime frame (bounded, ≤ a
    few thousand rows); per-segment areas are qround(·,6) lanes summed
    in DECIMAL(38,8) — coarser than the sum scale, per the lane rule.
    """
    km = kaplan_meier_retention(orders).select("t_days", "survival")
    w = Window.orderBy("t_days")
    s = km.withColumn(
        "prev_t", F.coalesce(F.lag("t_days").over(w), F.lit(0))
    ).withColumn("prev_s", F.coalesce(F.lag("survival").over(w), F.lit(1.0)))
    seg_area = qround(
        F.col("prev_s")
        * (
            F.least(F.col("t_days").cast("double"), F.lit(float(tau)))
            - F.col("prev_t").cast("double")
        ),
        6,
    )
    segs = s.filter(F.col("prev_t") < tau).select(seg_area.alias("a"))
    area1 = segs.agg(
        F.sum(F.col("a").cast(DEC38)).cast("double").alias("area_steps"),
        F.count("*").cast("long").alias("n_steps"),
    )
    # tail beyond the last event time, and S at tau (last step with t <= tau)
    last = s.agg(
        F.max("t_days").alias("t_last"),
        F.max(F.struct("t_days", "survival")).alias("last_row"),
        F.max(
            F.when(
                F.col("t_days") <= tau, F.struct("t_days", "survival")
            )
        ).alias("at_tau"),
    ).select(
        "t_last",
        F.col("last_row.survival").alias("s_last"),
        F.coalesce(F.col("at_tau.survival"), F.lit(1.0)).alias("s_at_tau"),
    )
    tail = last.select(
        "t_last",
        "s_at_tau",
        F.when(
            F.col("t_last") < tau,
            qround(
                F.col("s_last") * (F.lit(float(tau)) - F.col("t_last").cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("area_tail"),
    )
    return area1.crossJoin(F.broadcast(tail)).select(
        F.lit(tau).cast("int").alias("tau_days"),
        "n_steps",
        qround(F.col("area_steps") + F.col("area_tail"), 4).alias("rmst_days"),
        qround(F.col("s_at_tau"), 6).alias("survival_at_tau"),
    )


TUKEY_Q_CRIT = 3.858  # studentized range q(0.05; k=5, df=inf), public table


def tukey_hsd_priority(orders: DataFrame) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons after the one-way ANOVA
    (Tukey 1949, public): WHICH priority pairs differ once
    anova_oneway_priority says "some do".

        q_ij = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j))

    (the Tukey–Kramer unequal-n form). One moment aggregate builds the
    5-row group frame and the pooled MSW; the 10 pairs come from a
    self-join of that bounded frame. Significance is flagged against
    the public q(0.05; k=5, ∞) critical value on the qround'd statistic
    so the boundary decision is engine-identical.
    """
    x = F.col("o_totalprice").cast("double")
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("double").alias("ng"),
        _dsum38(x).alias("sx"),
        _dsum38(x * x).alias("sxx"),
    )
    msw = F.broadcast(
        g.agg(
            (
                F.sum(
                    (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("ng")).cast(
                        DEC38
                    )
                ).cast("double")
                / (
                    F.sum(F.col("ng").cast(DEC38)).cast("double")
                    - F.count("*").cast("double")
                )
            ).alias("msw")
        )
    )
    a = g.select(
        F.col("grp").alias("group_a"),
        F.col("ng").alias("na"),
        (F.col("sx") / F.col("ng")).alias("ma"),
    )
    b = g.select(
        F.col("grp").alias("group_b"),
        F.col("ng").alias("nb"),
        (F.col("sx") / F.col("ng")).alias("mb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(msw)
    qstat = F.abs(F.col("ma") - F.col("mb")) / F.sqrt(
        F.col("msw") / F.lit(2.0) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "group_a",
        "group_b",
        qround(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
        qround(qstat, 4).alias("q_stat"),
        F.when(qround(qstat, 4) > F.lit(TUKEY_Q_CRIT), 1)
        .otherwise(0)
        .cast("int")
        .alias("significant"),
    )


HW_ALPHA = 0.5  # level smoothing — exact binary fraction
HW_BETA = 0.25  # trend smoothing — exact binary fraction
HW_GAMMA = 0.25  # seasonal smoothing — exact binary fraction
HW_PERIOD = 7  # weekday cycle on the daily series
HW_Q = 1_000_000.0  # per-step state quantum (the Holt convention)
HW_HORIZONS = (7, 14)


def _hw_q(x: float) -> float:
    import math

    return math.floor(x * HW_Q + 0.5) / HW_Q


def holt_winters_forecast(
    orders: DataFrame,
    customer: DataFrame,
    alpha: float = HW_ALPHA,
    beta: float = HW_BETA,
    gamma: float = HW_GAMMA,
) -> DataFrame:
    """Holt–Winters additive triple exponential smoothing (Winters 1960,
    public) of per-segment DAILY revenue with a weekday (m = 7) season —
    the seasonal completion of holt_linear_forecast:

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
        ŷ_{T+h} = l_T + h·b_T + s_{T+h−m⌈h/m⌉}

    Textbook init: l = mean of week 1, b = (mean week 2 − mean week 1)/m,
    s_k = x_k − l. Same execution contract as Holt: the daily aggregate
    is the only full-data pass (JVM, exact decimal sums); the inherently
    sequential recursion runs one Arrow batch per segment in
    ``applyInPandas`` (parallelism = #series, state never leaves the
    executor). Every state value is quantized to 1e-6 per step and
    α/β/γ are exact binary fractions, so the DuckDB recursive-CTE twin —
    which carries the 7-slot seasonal ring as seven state columns —
    replays the trajectory bit-for-bit.
    """
    m = HW_PERIOD
    daily = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.col("o_orderdate")).alias("day"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("x"))
    )

    def fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values("day").reset_index(drop=True)
        seg = pdf["segment"].iloc[0]
        xs = pdf["x"].tolist()
        cols = ["segment", "n_days", "level", "trend"] + [
            f"forecast_{h}" for h in HW_HORIZONS
        ]
        if len(xs) < 2 * m:
            return pd.DataFrame(columns=cols)
        # ordered left-fold sums — the SQL twin writes the same chain
        w1 = 0.0
        for v in xs[:m]:
            w1 = w1 + v
        w2 = 0.0
        for v in xs[m : 2 * m]:
            w2 = w2 + v
        lvl = _hw_q(w1 / m)
        trd = _hw_q((w2 - w1) / (m * m))
        s = [_hw_q(xs[k] - lvl) for k in range(m)]
        for t in range(m, len(xs)):
            k = t % m
            prev = lvl
            lvl = _hw_q(alpha * (xs[t] - s[k]) + (1.0 - alpha) * (lvl + trd))
            trd = _hw_q(beta * (lvl - prev) + (1.0 - beta) * trd)
            s[k] = _hw_q(gamma * (xs[t] - lvl) + (1.0 - gamma) * s[k])
        n = len(xs)
        row = {"segment": seg, "n_days": n, "level": lvl, "trend": trd}
        for h in HW_HORIZONS:
            slot = (n - 1 + h) % m
            row[f"forecast_{h}"] = _hw_q(lvl + float(h) * trd + s[slot])
        return pd.DataFrame([row])

    schema = (
        "segment string, n_days long, level double, trend double, "
        + ", ".join(f"forecast_{h} double" for h in HW_HORIZONS)
    )
    return daily.groupBy("segment").applyInPandas(fit, schema)


def oaxaca_price_gap(lineitem: DataFrame) -> DataFrame:
    """Oaxaca–Blinder decomposition (Oaxaca 1973 / Blinder 1973, public)
    of the 1996→1997 mean line-price gap: how much is a change in the
    ORDER MIX (quantity/discount endowments) vs a change in PRICING
    (coefficients)?

        ȳ_B − ȳ_A = (x̄_B − x̄_A)'β_A  +  x̄_B'(β_B − β_A)   (+ intercepts)
                      [endowment]          [coefficient]

    Both regime OLS fits come from ONE conditional-moment aggregate
    (the chow_break_test shape — nothing scans twice); the decomposition
    identity holds exactly in the closed forms, pinned by construction:
    gap = endowment + coefficient to the last bit.
    """
    yr = F.year("l_shipdate")
    # spread(): the 18-conditional-decimal-sum aggregate otherwise runs
    # its partial phase on the single-row-group scan's ONE task
    base = spread(
        lineitem.filter(yr.isin(1996, 1997)).select(
            (yr == 1996).alias("is_a"),
            F.col("l_extendedprice").cast("double").alias("y"),
            F.col("l_quantity").cast("double").alias("x1"),
            F.col("l_discount").cast("double").alias("x2"),
        )
    )

    def side(tag: str):
        p = F.col("is_a") if tag == "a" else ~F.col("is_a")
        return [
            F.count(F.when(p, 1)).cast("double").alias(f"n_{tag}"),
            _dsum38(F.when(p, F.col("x1"))).alias(f"s1_{tag}"),
            _dsum38(F.when(p, F.col("x2"))).alias(f"s2_{tag}"),
            _dsum38(F.when(p, F.col("y"))).alias(f"sy_{tag}"),
            _dsum38(F.when(p, F.col("x1") * F.col("x1"))).alias(f"s11_{tag}"),
            _dsum38(F.when(p, F.col("x2") * F.col("x2"))).alias(f"s22_{tag}"),
            _dsum38(F.when(p, F.col("x1") * F.col("x2"))).alias(f"s12_{tag}"),
            _dsum38(F.when(p, F.col("x1") * F.col("y"))).alias(f"s1y_{tag}"),
            _dsum38(F.when(p, F.col("x2") * F.col("y"))).alias(f"s2y_{tag}"),
        ]

    m = base.agg(*side("a"), *side("b"))

    def fit(tag: str):
        n = F.col(f"n_{tag}")
        c11 = F.col(f"s11_{tag}") - F.col(f"s1_{tag}") * F.col(f"s1_{tag}") / n
        c22 = F.col(f"s22_{tag}") - F.col(f"s2_{tag}") * F.col(f"s2_{tag}") / n
        c12 = F.col(f"s12_{tag}") - F.col(f"s1_{tag}") * F.col(f"s2_{tag}") / n
        c1y = F.col(f"s1y_{tag}") - F.col(f"s1_{tag}") * F.col(f"sy_{tag}") / n
        c2y = F.col(f"s2y_{tag}") - F.col(f"s2_{tag}") * F.col(f"sy_{tag}") / n
        det = c11 * c22 - c12 * c12
        b1 = (c22 * c1y - c12 * c2y) / det
        b2 = (c11 * c2y - c12 * c1y) / det
        m1, m2, my = (
            F.col(f"s1_{tag}") / n,
            F.col(f"s2_{tag}") / n,
            F.col(f"sy_{tag}") / n,
        )
        b0 = my - b1 * m1 - b2 * m2
        return b0, b1, b2, m1, m2, my

    a0, a1, a2, am1, am2, amy = fit("a")
    b0, b1, b2, bm1, bm2, bmy = fit("b")
    gap = bmy - amy
    endow = (bm1 - am1) * a1 + (bm2 - am2) * a2
    coeff = (b0 - a0) + bm1 * (b1 - a1) + bm2 * (b2 - a2)
    return m.select(
        F.col("n_a").cast("long").alias("n_1996"),
        F.col("n_b").cast("long").alias("n_1997"),
        qround(gap, 4).alias("mean_gap"),
        qround(endow, 4).alias("endowment_effect"),
        qround(coeff, 4).alias("coefficient_effect"),
        qround(gap - endow - coeff, 6).alias("identity_residual"),
    )


LORENZ_DECILES = 10


def lorenz_curve_deciles(orders: DataFrame) -> DataFrame:
    """Lorenz curve of per-customer revenue at population deciles — the
    curve behind gini_revenue's scalar: cumulative revenue share held by
    the poorest 10%, 20%, … (the '80/20' chart itself).

    Rank-free at scale: per-customer revenue collapses to the
    distinct-value frame, the bucketed two-pass prefix sum assigns each
    distinct value its cumulative customer count AND cumulative revenue
    (:func:`bucketed_prefix`'s algorithm, its revenue prefix summed in
    DECIMAL(38,8)), and each decile's share is read off the frame with
    a conditional pick — the decile boundary falls INSIDE a tied value
    group, so the boundary group contributes
    pro-rata (exact rational arithmetic: heads·value, never a float
    estimate of the split).
    """
    percust = orders.groupBy("o_custkey").agg(
        (dsum(F.col("o_totalprice")) / F.lit(GINI_REV_SCALE)).alias("x")
    )
    vals = (
        percust.groupBy("x")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "bucket",
            F.floor(F.col("x") / F.lit(GINI_BUCKET_WIDTH / GINI_REV_SCALE)),
        )
        .localCheckpoint()
    )
    buckets = vals.groupBy("bucket").agg(
        F.sum("c").alias("bc"),
        F.sum((F.col("x") * F.col("c")).cast(DEC38)).cast("double").alias("bx"),
    )
    prev = F.broadcast(
        buckets.select(
            F.col("bucket").alias("pb"),
            F.col("bc").alias("pc"),
            F.col("bx").alias("px"),
        )
    )
    offsets = (
        buckets.join(prev, F.col("pb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum("pc"), F.lit(0)).alias("offc"),
            F.coalesce(F.sum(F.col("px").cast(DEC38)).cast("double"), F.lit(0.0))
            .alias("offx"),
        )
    )
    tot = F.broadcast(
        vals.agg(
            F.sum("c").alias("nc"),
            F.sum((F.col("x") * F.col("c")).cast(DEC38))
            .cast("double")
            .alias("tx"),
        )
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        vals.join(F.broadcast(offsets), "bucket")
        .crossJoin(tot)
        .withColumn("cumc", F.col("offc") + F.sum("c").over(w_in))
        .withColumn(
            "cumx",
            F.col("offx")
            + F.sum((F.col("x") * F.col("c")).cast(DEC38))
            .over(w_in)
            .cast("double"),
        )
    )
    # decile d boundary at k_d = floor(nc*d/10) customers: cumulative
    # revenue = cumx at the last value fully below + pro-rata heads into
    # the boundary tie group
    aggs: list[Column] = [F.max("nc").cast("long").alias("n_customers")]
    for d in range(1, LORENZ_DECILES + 1):
        k = F.expr(f"(nc * {d}) DIV {LORENZ_DECILES}")
        full_below = F.max(F.when(F.col("cumc") <= k, F.col("cumx")))
        boundary = F.max(
            F.when(
                (F.col("cumc") - F.col("c") < k) & (F.col("cumc") > k),
                (k - (F.col("cumc") - F.col("c"))).cast("double") * F.col("x"),
            )
        )
        share = (F.coalesce(full_below, F.lit(0.0)) + F.coalesce(boundary, F.lit(0.0))) / F.max(
            "tx"
        )
        aggs.append(qround(share, 6).alias(f"share_p{d * 10}"))
    return ranked.agg(*aggs)


def granger_causality_daily(orders: DataFrame) -> DataFrame:
    """Lag-1 Granger causality test (Granger 1969, public): do yesterday's
    ORDER COUNTS improve today's revenue forecast beyond yesterday's
    revenue? Restricted model y_t ~ y_{t−1} vs unrestricted
    y_t ~ y_{t−1} + x_{t−1};

        F = (SSE_r − SSE_u) / (SSE_u / (n − 3))

    Calendar-bounded daily frame; one lag window builds the regression
    rows, one DECIMAL(38,8) moment aggregate feeds both closed-form
    fits (1-var and Cramer 2-var); identical scalar shapes both engines.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (dsum(F.col("o_totalprice")) / F.lit(ACF_REV_SCALE)).alias("y"),
        F.count("*").cast("double").alias("x"),
    )
    w = Window.orderBy("day")
    rows = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("yl"),
        F.lag("x", 1).over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    m = rows.agg(
        F.count("*").cast("double").alias("n"),
        _dsum38(F.col("y")).alias("sy"),
        _dsum38(F.col("yl")).alias("s1"),
        _dsum38(F.col("xl")).alias("s2"),
        _dsum38(F.col("yl") * F.col("yl")).alias("s11"),
        _dsum38(F.col("xl") * F.col("xl")).alias("s22"),
        _dsum38(F.col("yl") * F.col("xl")).alias("s12"),
        _dsum38(F.col("yl") * F.col("y")).alias("s1y"),
        _dsum38(F.col("xl") * F.col("y")).alias("s2y"),
        _dsum38(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    sse_r = cyy - c1y * c1y / c11
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    sse_u = cyy - b1 * c1y - b2 * c2y
    f = (sse_r - sse_u) / (sse_u / (n - 3.0))
    return m.select(
        n.cast("long").alias("n_days"),
        qround(b2, 6).alias("beta_lag_count"),
        qround(f, 4).alias("f_stat"),
        qround((sse_r - sse_u) / sse_r, 9).alias("sse_drop_share"),
    )


AD_LN_FLOOR = 1e-300  # ln() guard for extreme tails (same clip both engines)


def anderson_darling_price(orders: DataFrame) -> DataFrame:
    """Anderson–Darling normality test (Anderson & Darling 1952, public)
    of order values — the tail-weighted EDF statistic that catches what
    Jarque–Bera's moments blur:

        A² = −n − (1/n)·Σᵢ [(2i−1)·ln Φ(zᵢ) + (2(n−i)+1)·ln(1−Φ(zᵢ))]

    (the single-pass algebraic form of the textbook i ↔ n+1−i pairing).
    Rank-free at scale: ranks never materialise per row — a tied value
    group with c members starting after cum_lt smaller rows contributes
    exact integer weight sums t₁ = c·(2·cum_lt + c) and
    t₂ = c·(2(n−cum_lt) − c), so the whole statistic reduces to one pass
    over the distinct-value frame with :func:`bucketed_prefix`. Φ comes
    from the engine-shared A&S polynomial (bh_fdr convention); per-value
    terms are pre-scaled by 1/n and quantized at 1e-4 before the
    DECIMAL(38,8) sum (lane rule).
    The case-0.05 critical value (0.787, de-meaned/de-scaled variant
    A*² with the small-n factor) is reported alongside raw A².
    """
    x = F.col("o_totalprice").cast("double")
    mom = F.broadcast(
        orders.agg(
            F.count("*").cast("double").alias("n"),
            _dsum38(x).alias("sx"),
            _dsum38(x * x).alias("sxx"),
        ).select(
            "n",
            (F.col("sx") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sd"),
        )
    )
    vals = (
        orders.groupBy(x.alias("v"))
        .agg(F.count("*").alias("c"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    ranked = (
        bucketed_prefix(vals, "v", ("c",))
        .withColumn("cum_lt", F.col("cum_c") - F.col("c"))
        .crossJoin(mom)
    )
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    phi = F.when(
        z >= 0, F.lit(1.0) - _norm_sf_expr(z)
    ).otherwise(_norm_sf_expr(-z))
    ln_lo = F.log(F.greatest(phi, F.lit(AD_LN_FLOOR)))
    ln_hi = F.log(F.greatest(F.lit(1.0) - phi, F.lit(AD_LN_FLOOR)))
    c, n = F.col("c").cast("double"), F.col("n")
    t1 = c * (2.0 * F.col("cum_lt").cast("double") + c)
    t2 = c * (2.0 * (n - F.col("cum_lt").cast("double")) - c)
    term = qround((t1 * ln_lo + t2 * ln_hi) / n, 4)
    agg = ranked.agg(
        F.max("n").alias("n"),
        F.sum(term.cast(DEC38)).cast("double").alias("s"),
    )
    # terms are already pre-scaled by 1/n inside the quantized lane
    a2 = -F.col("n") - F.col("s")
    a2_star = a2 * (
        F.lit(1.0) + F.lit(0.75) / F.col("n") + F.lit(2.25) / (F.col("n") * F.col("n"))
    )
    return agg.select(
        F.col("n").cast("long").alias("n_rows"),
        qround(a2, 4).alias("a2_stat"),
        qround(a2_star, 4).alias("a2_star"),
        F.when(qround(a2_star, 4) > F.lit(0.787), 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_normal_05"),
    )


def ks_normality_price(orders: DataFrame) -> DataFrame:
    """One-sample Kolmogorov–Smirnov / Lilliefors-type normality check of
    order values against the FITTED Normal(μ̂, σ̂): D = sup over the data
    of max(|F_n(x) − Φ(z)|, |F_n(x⁻) − Φ(z)|) — both EDF sides, the
    textbook two-sided statistic. Completes the normality triad next to
    jarque_bera_price (moments) and anderson_darling_price (tail-
    weighted integral): KS weighs the CENTER.

    Same plan as the two-sample KS: distinct-value frame +
    :func:`bucketed_prefix` (no global sort); Φ from the shared A&S
    polynomial. The α=0.05 decision uses the public Lilliefors large-n approximation
    0.886/√n, compared on qround'd values.
    """
    x = F.col("o_totalprice").cast("double")
    mom = F.broadcast(
        orders.agg(
            F.count("*").cast("double").alias("n"),
            _dsum38(x).alias("sx"),
            _dsum38(x * x).alias("sxx"),
        ).select(
            "n",
            (F.col("sx") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sd"),
        )
    )
    vals = (
        orders.groupBy(x.alias("v"))
        .agg(F.count("*").alias("c"))
        .withColumn("bucket", F.floor(F.col("v") / F.lit(KS_BUCKET_WIDTH)))
    )
    ranked = bucketed_prefix(vals, "v", ("c",)).crossJoin(mom)
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    phi = F.when(z >= 0, F.lit(1.0) - _norm_sf_expr(z)).otherwise(
        _norm_sf_expr(-z)
    )
    hi = F.col("cum_c").cast("double") / F.col("n")
    lo = (F.col("cum_c") - F.col("c")).cast("double") / F.col("n")
    d_row = F.greatest(F.abs(hi - phi), F.abs(lo - phi))
    agg = ranked.agg(F.max("n").alias("n"), F.max(d_row).alias("d"))
    crit = F.lit(0.886) / F.sqrt(F.col("n"))
    return agg.select(
        F.col("n").cast("long").alias("n_rows"),
        qround(F.col("d"), 6).alias("d_stat"),
        qround(F.sqrt(F.col("n")) * F.col("d"), 4).alias("sqrt_n_d"),
        F.when(qround(F.col("d"), 6) > qround(crit, 6), 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_normal_05"),
    )


# --- round-10 additions: Ljung–Box, Friedman, Cochran–Mantel–Haenszel ------

LB_MAX_LAG = 7


def ljung_box_daily(orders: DataFrame, max_lag: int = LB_MAX_LAG) -> DataFrame:
    """Ljung–Box portmanteau test (Ljung & Box 1978, public) on the daily
    revenue series — "is there ANY autocorrelation in the first m lags",
    the whiteness gate a forecasting pipeline runs before trusting
    residual-based intervals:

        Q(k) = n(n+2) Σ_{j=1..k} r_j² / (n−j)

    emitted as a running statistic per lag (Q(k) at lag k has k degrees
    of freedom) alongside the sample ACF r_k itself.

    Scale: identical posture to autocorr_daily_revenue — the data-sized
    work is ONE map-side-combined daily aggregate; the lag window runs on
    the CALENDAR-BOUNDED daily frame (~2.4k rows at any corpus size).
    Exactness: daily revenue is an exact decimal sum scaled 1e-6; lag
    products are dsum-summed (order-free); r_j = num_j/den and the Q
    accumulation run the identical IEEE double expression shape on both
    engines; display values qround-pinned. A constant series (den = 0)
    yields NULL acf/Q rather than an ANSI divide-by-zero.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (dsum(F.col("o_totalprice")) / F.lit(ACF_REV_SCALE)).alias("x")
    )
    mu = daily.agg(
        (dsum(F.col("x")) / F.count("*").cast("double")).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mu")).alias("dv")
    )
    w = Window.orderBy("day")
    lagged = dev.select(
        "dv",
        *[F.lag("dv", k).over(w).alias(f"l{k}") for k in range(1, max_lag + 1)],
    )
    agg = lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        dsum(F.col("dv") * F.col("dv")).alias("den"),
        *[
            dsum(F.col("dv") * F.col(f"l{k}")).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    n = F.col("n_days").cast("double")
    den_ok = F.col("den") != F.lit(0.0)

    def r(j: int) -> Column:
        return F.col(f"num{j}") / F.col("den")

    def q(k: int) -> Column:
        acc = None
        for j in range(1, k + 1):
            term = r(j) * r(j) / (n - F.lit(float(j)))
            acc = term if acc is None else acc + term
        return n * (n + F.lit(2.0)) * acc

    scored = agg.select(
        "n_days",
        *[F.when(den_ok, qround(r(k), 6)).alias(f"r{k}") for k in range(1, max_lag + 1)],
        *[F.when(den_ok, qround(q(k), 6)).alias(f"q{k}") for k in range(1, max_lag + 1)],
    )
    stack_args = ", ".join(f"{k}, r{k}, q{k}" for k in range(1, max_lag + 1))
    return scored.select(
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, acf, q_stat)"),
        "n_days",
    ).select(
        F.col("lag").cast("int").alias("lag"), "acf", "q_stat", "n_days"
    )


FRIEDMAN_K = 5  # TPC-H order priorities form the treatment set


def friedman_test_priority(orders: DataFrame) -> DataFrame:
    """Friedman rank test (Friedman 1937, public) — do the five order
    priorities differ in average order value, treating each calendar
    MONTH as a block (the repeated-measures / randomized-block companion
    to kruskal_wallis_priority, which ignores blocking):

        Q = 12 / (n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)

    over n complete blocks (months where all k=5 priorities appear),
    R_j = sum over blocks of priority j's within-month average rank
    (ties on the qround-pinned cell mean share the average rank).

    Scale: the data-sized work is ONE map-side-combined (month, priority)
    aggregate; every window after it runs on the CALENDAR-BOUNDED cell
    frame (months × 5 rows — ~420 at any corpus size). Exactness: cell
    means are exact decimal sums qround-pinned to 6 BEFORE ranking, so
    the rank permutation is identical on both engines; rank sums are
    half-integers summed exactly via decimal lanes.

    Q is the CLASSIC, tie-UNCORRECTED statistic (no
    1 − Σ(t³−t)/(n·k·(k²−1)) denominator): ties between qround-pinned
    month-mean cells are essentially impossible on real-valued data, and
    both engines use the identical formula, so oracle parity is exact —
    but if cells DO tie, Q is conservative relative to
    scipy.stats.friedmanchisquare, which applies the correction (ADVICE
    r10: stated here so downstream scipy comparisons aren't misread as
    engine mismatches).
    """
    cell = (
        orders.groupBy(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("mth"),
            F.col("o_orderpriority").alias("o_orderpriority"),
        )
        .agg(
            qround(
                dsum(F.col("o_totalprice")) / F.count("*").cast("double"), 6
            ).alias("mval")
        )
    )
    wm = Window.partitionBy("mth")
    full = cell.withColumn("kk", F.count("*").over(wm)).filter(
        F.col("kk") == F.lit(FRIEDMAN_K)
    )
    wr = Window.partitionBy("mth").orderBy("mval")
    wt = Window.partitionBy("mth", "mval")
    ranked = (
        full.withColumn("rmin", F.rank().over(wr))
        .withColumn("tied", F.count("*").over(wt))
        .withColumn(
            "ar",
            F.col("rmin").cast("double")
            + (F.col("tied").cast("double") - F.lit(1.0)) / F.lit(2.0),
        )
    )
    per = ranked.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("nb"),
        dsum(F.col("ar")).alias("rsum"),
    )
    k = F.lit(float(FRIEDMAN_K))
    tot = per.agg(
        dsum(F.col("rsum") * F.col("rsum")).alias("ss"),
        F.max("nb").alias("nb"),
    )
    qstat = (
        F.lit(12.0) / (F.col("nb") * k * (k + F.lit(1.0))) * F.col("ss")
        - F.lit(3.0) * F.col("nb") * (k + F.lit(1.0))
    )
    stat = F.broadcast(
        tot.select(
            qround(qstat, 6).alias("q_stat"),
            F.col("nb").cast("long").alias("n_blocks"),
        )
    )
    return per.crossJoin(stat).select(
        "o_orderpriority",
        F.col("n_blocks"),
        qround(F.col("rsum"), 6).alias("rank_sum"),
        qround(F.col("rsum") / F.col("nb"), 6).alias("mean_rank"),
        F.col("q_stat"),
        F.lit(FRIEDMAN_K - 1).cast("int").alias("df"),
    )


CMH_DISCOUNT_CUT = 0.05


def cmh_discount_returns(lineitem: DataFrame) -> DataFrame:
    """Cochran–Mantel–Haenszel test (Mantel & Haenszel 1959, public) for
    the association between deep discounting (l_discount > 0.05) and
    returns (l_returnflag = 'R'), STRATIFIED by ship year — the
    confounder-adjusted 2×2×K companion to a naive chi-square: each ship
    year contributes its own 2×2 table and the test pools evidence
    without assuming the strata share a baseline rate. Also emits the
    Mantel–Haenszel common odds-ratio estimate.

        CMH = (|Σa_k − ΣE_k| − ½)² / ΣV_k        (continuity-corrected)
        E_k = n1_k·m1_k/n_k
        V_k = n1_k·n0_k·m1_k·m0_k / (n_k²·(n_k−1))
        OR_MH = Σ(a_k·d_k/n_k) / Σ(b_k·c_k/n_k)

    Scale: ONE map-side-combined groupBy over the ~7 ship years (stratum
    cardinality is calendar-bounded), then a single-row reduction — no
    window, no join, linear in the fact table at any SF. Exactness: all
    cell counts are exact integers; per-stratum E/V/OR terms run the
    identical IEEE double expression shape on both engines and are
    summed order-free via decimal lanes; strata too small for a variance
    (n_k < 2) are excluded identically on both engines.
    """
    exp = F.col("l_discount") > F.lit(CMH_DISCOUNT_CUT)
    out = F.col("l_returnflag") == F.lit("R")
    # NOT spread: A/B-measured in r14 — the 4-count partial aggregate is
    # cheap enough that the fan-out shuffle costs more than it saves
    # (0.46s → 1.25s with spread)
    s = (
        lineitem.groupBy(F.year("l_shipdate").alias("stratum"))
        .agg(
            F.count("*").cast("double").alias("n"),
            F.count(F.when(exp, 1)).cast("double").alias("n1"),
            F.count(F.when(out, 1)).cast("double").alias("m1"),
            F.count(F.when(exp & out, 1)).cast("double").alias("a"),
        )
        .filter(F.col("n") > F.lit(1.0))
    )
    n, n1, m1, a = F.col("n"), F.col("n1"), F.col("m1"), F.col("a")
    b = n1 - a          # exposed, not returned
    c = m1 - a          # unexposed, returned
    d = n - n1 - m1 + a  # unexposed, not returned
    e = n1 * m1 / n
    v = n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - F.lit(1.0)))
    per = s.select(
        a.alias("a"),
        e.alias("e"),
        v.alias("v"),
        (a * d / n).alias("or_num"),
        (b * c / n).alias("or_den"),
        n.alias("n"),
    )
    agg = per.agg(
        F.count("*").cast("long").alias("k_strata"),
        dsum(F.col("n")).cast("long").alias("n_total"),
        dsum(F.col("a")).cast("long").alias("sum_exposed_returns"),
        dsum(F.col("e")).alias("se"),
        dsum(F.col("v")).alias("sv"),
        dsum(F.col("or_num")).alias("son"),
        dsum(F.col("or_den")).alias("sod"),
    )
    dev = F.greatest(
        F.lit(0.0),
        F.abs(F.col("sum_exposed_returns").cast("double") - F.col("se"))
        - F.lit(0.5),
    )
    return agg.select(
        "k_strata",
        "n_total",
        "sum_exposed_returns",
        qround(F.col("se"), 6).alias("expected_returns"),
        qround(F.col("sv"), 6).alias("variance_sum"),
        F.when(F.col("sv") != F.lit(0.0), qround(dev * dev / F.col("sv"), 6))
        .alias("cmh_stat"),
        F.when(F.col("sod") != F.lit(0.0), qround(F.col("son") / F.col("sod"), 6))
        .alias("mh_odds_ratio"),
    )
