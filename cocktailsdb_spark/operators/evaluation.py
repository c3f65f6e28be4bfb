"""Model-evaluation metrics over a scored corpus — the measurement half
of the quality-classifier loop (reference analog: the repo's analysis
queries score and bucket rows; training-data pipelines additionally need
classifier evaluation before a filter model is trusted at corpus scale).

The scored frame is the quality-classifier shape from
:func:`cocktailsdb_spark.operators.corpus.logreg_quality_train` with a
FIXED literal weight vector (a frozen model snapshot): label
``y = (lang == EVAL_LABEL_LANG)``, features (bias, tokens/100,
chars/1000, type-token ratio), score ``p = sigmoid(w·x)`` quantized to
the 1e-6 grid. Quantizing the score once makes every downstream
comparison — threshold, bin edge, rank — operate on identical doubles in
Spark and the DuckDB oracle, and bounds the distinct-score universe
(≤ 1e6 + 1 values in [0, 1]) independent of corpus size.

Scale posture (the 100 TB question for each op):

- ``classifier_eval_report`` — ONE map-side-combined aggregate; pure
  reduction, no join, no window.
- ``roc_auc`` — rank-free (as ``relational.mann_whitney_u``): a
  score-distinct aggregate, then ``relational.bucketed_prefix`` over
  ``floor(p·100)`` buckets (≤ 101 buckets at any corpus size), so no
  task ever sorts more than one bucket of distinct scores and ranks
  never materialise per row.
- ``calibration_bins`` — one aggregate over ≤ EVAL_CAL_BINS fixed-width
  score bins.
- ``gains_lift_table`` — calibration bins plus a window over the
  ≤ EVAL_CAL_BINS bin rows (schema-bounded, never data-sized) and a
  broadcast scalar total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..numeric import dsum, qround
from .relational import bucketed_prefix
from .text import tokens

EVAL_LABEL_LANG = "en"
# frozen model snapshot: (bias, f_tokens, f_chars, f_ttr)
EVAL_WEIGHTS = (-0.85, 0.8, -0.6, 1.2)
EVAL_THRESHOLD = 0.5
EVAL_CAL_BINS = 10
AUC_BUCKET_SCALE = 100  # floor(p*100) -> <= 101 prefix-sum buckets


def scored(docs: DataFrame, label_lang: str = EVAL_LABEL_LANG) -> DataFrame:
    """(y, p) per document under the frozen linear model.

    Same feature expressions as logreg_quality_train (corpus.py:983);
    the sigmoid is the one libm call (exp), and the 1e-6 quantization
    step sits ~10 orders above sub-ulp engine differences (the logreg
    exactness argument).
    """
    w = EVAL_WEIGHTS
    feats = docs.select(
        (F.col("lang") == label_lang).cast("int").alias("y"),
        F.lit(1.0).alias("f0"),
        (F.size(tokens()) / F.lit(100.0)).alias("f1"),
        (F.col("n_chars") / F.lit(1000.0)).alias("f2"),
        (
            F.size(F.array_distinct(tokens())).cast("double")
            / F.size(tokens()).cast("double")
        ).alias("f3"),
    )
    z = sum(F.lit(w[j]) * F.col(f"f{j}") for j in range(4))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select("y", qround(p, 6).alias("p"))


def classifier_eval_report(
    docs: DataFrame, threshold: float = EVAL_THRESHOLD
) -> DataFrame:
    """Confusion matrix + accuracy/precision/recall/F1 at a threshold.

    ONE scalar map-side-combined aggregate over the scored frame; the
    four derived ratios are scalar IEEE arithmetic on the single result
    row, expression-shape-identical to the DuckDB twin, pinned with
    qround.
    """
    s = scored(docs)
    pred = (F.col("p") >= F.lit(threshold)).cast("int")
    y = F.col("y")
    g = s.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(pred * y).cast("long").alias("tp"),
        F.sum(pred * (1 - y)).cast("long").alias("fp"),
        F.sum((1 - pred) * y).cast("long").alias("fn"),
        F.sum((1 - pred) * (1 - y)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    n = F.col("n").cast("double")
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    return g.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        qround((tp + tn) / n, 6).alias("accuracy"),
        qround(prec, 6).alias("precision_"),
        qround(rec, 6).alias("recall_"),
        qround(2.0 * prec * rec / (prec + rec), 6).alias("f1"),
    )


def roc_auc(docs: DataFrame) -> DataFrame:
    """ROC-AUC with average-rank tie handling, rank-free at scale.

    AUC is the Mann-Whitney statistic normalised: with R2p the doubled
    rank-sum of positives under average ranks,

        2·R_pos = Σ_v cp(v) · (2·cum_lt(v) + t(v) + 1)
        AUC     = (2·R_pos − 2·P(P+1)/2) / (2·P·N)

    cum_lt comes from ``relational.bucketed_prefix`` over ≤ 101 buckets
    (p is quantized into [0,1]) — no unpartitioned data-sized sort
    anywhere. The score-distinct frame feeds both of its passes, so it
    is pinned there once instead of tokenizing the corpus twice. All rank
    arithmetic is exact integers (decimal-summed against overflow);
    the one division happens on the final scalar row.
    """
    vals = (
        scored(docs)
        .groupBy(F.col("p").alias("v"))
        .agg(
            F.sum("y").alias("cp"),
            F.sum(1 - F.col("y")).alias("cn"),
        )
        .withColumn("t", F.col("cp") + F.col("cn"))
        .withColumn(
            "bucket", F.floor(F.col("v") * F.lit(float(AUC_BUCKET_SCALE)))
        )
    )
    ranked = bucketed_prefix(vals, "v", ("t",)).withColumn(
        "cum_lt", F.col("cum_t") - F.col("t")
    )
    big = "decimal(38,0)"
    agg = ranked.agg(
        F.sum(F.col("cp").cast(big)).cast("double").alias("n_pos"),
        F.sum(F.col("cn").cast(big)).cast("double").alias("n_neg"),
        F.sum(
            (F.col("cp") * (2 * F.col("cum_lt") + F.col("t") + 1)).cast(big)
        )
        .cast("double")
        .alias("r2p"),
    )
    p, n = F.col("n_pos"), F.col("n_neg")
    auc = (F.col("r2p") - p * (p + 1)) / (F.lit(2.0) * p * n)
    return agg.select(
        p.cast("long").alias("n_pos"),
        n.cast("long").alias("n_neg"),
        qround(auc, 6).alias("auc"),
    )


def calibration_bins(docs: DataFrame, bins: int = EVAL_CAL_BINS) -> DataFrame:
    """Reliability table: fixed-width score bins vs observed positive
    rate. One aggregate over ≤ `bins` groups; fixed-width (not ntile)
    bins deliberately — equal-population deciles would need a global
    rank, fixed-width needs none and is the standard reliability-diagram
    x-axis.
    """
    s = scored(docs)
    b = F.least(
        F.floor(F.col("p") * F.lit(float(bins))), F.lit(bins - 1)
    ).cast("int")
    g = (
        s.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum(F.col("p")).alias("sp"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    n = F.col("n").cast("double")
    return g.select(
        "bin",
        "n",
        "n_pos",
        qround(F.col("sp") / n, 6).alias("mean_score"),
        qround(F.col("n_pos").cast("double") / n, 6).alias("pos_rate"),
    ).orderBy("bin")


def gains_lift_table(docs: DataFrame, bins: int = EVAL_CAL_BINS) -> DataFrame:
    """Cumulative gains / lift by descending score bin — 'if I keep only
    the top-scored slice of the corpus, what share of true positives do
    I capture?' (the corpus-filter sizing question).

    Reuses the calibration aggregate; the cumulative window runs over
    the ≤ `bins` bin rows (schema-bounded, never data-sized) and the
    corpus totals are a broadcast scalar.
    """
    binned = calibration_bins(docs, bins).select("bin", "n", "n_pos")
    totals = binned.agg(
        F.sum("n").alias("tot_n"), F.sum("n_pos").alias("tot_pos")
    )
    w = (
        Window.orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "bin",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n_pos").over(w).alias("cum_pos"),
    ).crossJoin(F.broadcast(totals))
    cap = F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double")
    rate = F.col("cum_pos").cast("double") / F.col("cum_n").cast("double")
    base = F.col("tot_pos").cast("double") / F.col("tot_n").cast("double")
    return cum.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        qround(cap, 6).alias("capture_rate"),
        qround(rate / base, 6).alias("cum_lift"),
    ).orderBy(F.desc("bin"))


def isotonic_calibration(docs: DataFrame, bins: int = EVAL_CAL_BINS) -> DataFrame:
    """Isotonic (PAV) calibration of the reliability table — the
    monotone score→probability mapping (Zadrozny & Elkan 2002, public)
    via the exact MINIMAX characterization of the pooled-adjacent-
    violators fit:

        iso[i] = max_{j ≤ i} min_{k ≥ i} mean(pos_rate, weighted, j..k)

    No sequential pooling loop: the formula enumerates bin INTERVALS,
    and the bin frame is schema-bounded (≤ `bins` rows → ≤ bins² ≈ 400
    intervals), so the whole fit is two tiny joins + two aggregates —
    trivially distributable and engine-exact (interval means are integer
    pos/count sums in one IEEE division; the corpus pass is the one
    calibration aggregate).
    """
    binned = calibration_bins(docs, bins).select("bin", "n", "n_pos")
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = binned.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cpos"),
    ).localCheckpoint()
    # sentinel prefix row so interval sums are cpos[k] − cpos[j−1]
    sent = pre.sparkSession.createDataFrame(
        [(-1, 0, 0)], "bin int, cn long, cpos long"
    )
    prevs = pre.select("bin", "cn", "cpos").unionByName(sent)
    k_side = pre.select(
        F.col("bin").alias("k"), F.col("cn").alias("cnk"), F.col("cpos").alias("cpk")
    )
    j_side = prevs.select(
        (F.col("bin") + 1).alias("j"),
        F.col("cn").alias("cnj"),
        F.col("cpos").alias("cpj"),
    )
    iv = k_side.join(j_side, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cpk") - F.col("cpj")).cast("double")
            / (F.col("cnk") - F.col("cnj")).cast("double")
        ).alias("mean_rate"),
    )
    i_side = pre.select(F.col("bin").alias("i"))
    inner = (
        i_side.join(iv, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("mean_rate").alias("mn"))
    )
    iso = inner.groupBy("i").agg(F.max("mn").alias("iso"))
    n = F.col("n").cast("double")
    return (
        pre.join(iso, pre.bin == iso.i)
        .select(
            "bin",
            "n",
            "n_pos",
            qround(F.col("n_pos").cast("double") / n, 6).alias("pos_rate"),
            qround(F.col("iso"), 6).alias("isotonic_rate"),
        )
        .orderBy("bin")
    )
