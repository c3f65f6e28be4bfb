"""Benchmark runner — driver contract (BASELINE.md).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the no-op sink (all partitions
computed, nothing collected to the driver) — the honest distributed cost,
not a driver-collect artifact. A tiny warm-up query first: JVM/codegen
startup is session cost, not per-query cost.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from cocktailsdb_spark.session import get_spark
from cocktailsdb_spark.tables import load

BENCH_QUERIES = [
    "poc_analysis",
    "tpch_q1_pricing",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_orders",
    "tpch_q21_sole_problem_supplier",
    "salted_groupby",
    "asof_join_signup",
    "range_join_recent_clicks",
    "window_running",
    "dedup_latest_wins",
    "sessionize_events",
    "window_tumbling_hour",
    "exact_dedup_hash",
    "simhash_fingerprint",
    # ngram_jaccard_pairs is EXCLUDED by convention (BASELINE.md): it is
    # the quadratic-by-spec exact-verify twin of the prefix-filtered path;
    # benching it invites regression-chasing on a plan that must never run
    # at scale. The scale path below is the benched row.
    "ngram_jaccard_prefix",
    "embedding_topk_cosine",
    "embedding_topk_ivf",
    "embedding_topk_ivf_kmeans",
    "text_quality_score",
    "doc_fingerprint",
    "json_extract_props",
    "multimodal_features",
    "http_dim_pipeline",
    # round-2 additions
    "sessionize_skew_chunked",
    "topk_per_group_limit",
    "chunk_documents",
    "pack_sequences",
    "decontaminate_ngrams",
    "repetition_stats",
    "tfidf_top_terms",
    "bm25_rank_query",
    "hybrid_rank_rrf",
    "bm25_rank_stored",
    "bm25_incremental_stored",
    "phrase_match_docs",
    "terms_near_docs",
    "snippet_extract_docs",
    "inverted_index_terms",
    "mixture_weights",
    "bigram_lm_counts",
    "funnel_conversion",
    "cohort_retention",
    "rolling_zscore_revenue",
    "snapshot_diff_cdc",
    "profile_table_quality",
    "fuzzy_match_names",
    "pagerank_top_nodes",
    "incremental_agg_merge",
    "unigram_logprob_score",
    # round-5 additions
    "boilerplate_ngrams",
    "boilerplate_coverage",
    "semantic_dedup",
    "embedding_topk_sq",
    "embedding_topk_pq",
    "bpe_merge_train",
    "minhash_banded_pairs",
    "correlation_matrix",
    "gapfill_daily_revenue",
    "skyline_parts",
    "triangle_count",
    "cusum_changepoint",
    "join_skew_report",
    "activity_streaks",
    "embedding_stats",
    "heavy_hitters_exact",
    "correlation_matrix_fast",
    "gapfill_interpolate",
    # round-5 session-2 additions
    "graph_bfs_levels",
    "ccnet_quality_buckets",
    "pmi_collocations",
    "winsorized_stats",
    "encoding_runs_report",
    "source_cap_firstn",
    "asof_join_next",
    "incremental_join_mv",
    "mad_outlier_report",
    "hll_sketch_rollup",
    "corpus_drift_kl",
    "python_datasource_read",
    "range_pruned_revenue",
    "zorder_box_revenue",
    "observed_load_metrics",
    "fk_orphans_report",
    "embedding_dim_ablation",
    "spearman_rank_corr",
    "top_event_paths",
    "gdpr_erasure_audit",
    "daily_user_accounting",
    "quantile_two_pass",
    "weighted_sample_topn",
    "arrow_token_stats",
    "variant_props_agg",
    "xml_roundtrip",
    "pandas_api_groupby",
    "collated_segment_count",
    "sql_scripting_pipeline",
    "cogroup_asof_pandas",
    "psi_price_drift",
    "benford_digit_report",
    "frequent_itemset_pairs",
    "chisq_contingency",
    "embedding_topk_filtered",
    "concurrent_sessions_daily",
    "rfm_segments",
    "yoy_revenue_growth",
    "table_checksum",
    # round-6: DSIR hashed-bigram importance weighting (data selection)
    "dsir_importance_weights",
    # round-6: the stateful/streaming family (judge directive 5) — each row
    # is an end-to-end micro-batch run over the sf events table (input
    # materialization + all micro-batches to completion + result read), so
    # these wall-clocks cover the stateful path's full lifecycle, not just
    # the final query. RocksDB-backed tumbling, stream-stream interval
    # join, and the foreachBatch MERGE sink are the three the regression
    # contract pins; static join covers the broadcast-per-batch shape.
    "streaming_tumbling_rocksdb",
    "streaming_interval_join",
    "streaming_foreach_merge",
    "streaming_static_join",
    # round-8: registered 100 TB scale forms (each exact-twin row above
    # stays benched for the regression contract; these are the plans a
    # cluster actually runs) + the ANN index-maintenance path
    "pack_sequences_sharded",
    "rfm_segments_scaled",
    "winsorized_stats_scaled",
    "spearman_rank_corr_scaled",
    "ann_index_upsert_probe",
    "neardup_incremental_pairs",
    # round-8 session additions: boolean retrieval, geospatial grid,
    # distributed training + embedding linear algebra, two-sample stats
    "bool_search_docs",
    "geo_cell_density",
    "geo_pairs_radius",
    "geo_knn_join",
    "logreg_quality_train",
    "pca_top_component",
    "pca_project_residual",
    "welch_ttest",
    "mann_whitney_u",
    # round-8 session 4: evaluation / attribution / corpus-analytics families
    "classifier_eval_report",
    "roc_auc_score",
    "attribution_last_touch",
    "attribution_linear",
    "autocorr_daily_revenue",
    "association_rules",
    "duplicate_spans",
    "keyness_terms",
    "knn_classify_labels",
    "share_of_total",
    "gini_revenue",
    "audience_overlap",
    "zipf_fit",
    "mine_hard_negatives",
    "mmr_diversify",
    "ndcg_ivf_at_k",
    "band_join_acctbal",
    "shipping_latency_profile",
    "segment_percentiles",
    "weekday_adjusted_anomalies",
    "decayed_engagement",
    # round-8 session 5: causal / survival / forecasting / recommender /
    # sketch families
    "did_promo_effect",
    "seasonal_decompose_daily",
    "item_item_recs",
    "count_min_heavy",
    "kaplan_meier_retention",
    "holt_linear_forecast",
    "bootstrap_ci_revenue",
    "prefix_completions",
    "naive_bayes_langid",
    "conversion_lag_profile",
    "decision_stump_train",
    "abandoned_views_daily",
    "markov_prediction_accuracy",
    "error_budget_burn",
    "forecast_backtest",
    "hampel_outlier_days",
    "user_item_recommendations",
    "cohort_ltv",
    "revenue_bridge",
    "dp_noisy_counts",
    "weighted_percentiles_by_brand",
    "link_prediction_jaccard",
    "new_vs_returning_monthly",
    "streaming_error_burn",
    "stump_cross_validation",
    "pareto_customers_by_region",
    # round-9: the last two histogram-narrowed scale twins (VERDICT r8
    # task 2) — the exact forms above stay benched as oracle twins
    "segment_percentiles_scaled",
    "weighted_percentiles_by_brand_scaled",
    # round-9: the geo ring-pitch recall dial (VERDICT r8 task 7)
    "geo_knn_recall_at_k",
    # round-9: causal IPW, robust trend, output-unit drift, dictionary
    # tagging, bigram-LM cross-entropy
    "ipw_treatment_effect",
    "theil_sen_trend",
    "wasserstein_price_drift",
    "keyword_tagging",
    "bigram_cross_entropy",
    "nelson_aalen_hazard",
    "attribution_shapley",
    "fd_violations",
    # minhash_band_recall and simhash_threshold_curve are EXCLUDED by the
    # ngram_jaccard_pairs convention (BASELINE.md): each is TRUTH-BOUND by
    # spec — the dominant cost is the exact Jaccard ground-truth pair set
    # at the detector's own (n=3, t=0.5), a quality-evaluation pass a
    # production run executes on a sample, not per-corpus. Benching them
    # invites regression-chasing on the truth computation; the DETECTORS
    # they evaluate are benched (minhash_banded_pairs, simhash rows), and
    # the geo/ANN recall dials stay benched because their truths are
    # broadcast-panel scans, not pair enumerations.
    "huber_location",
    "attribution_position",
    "column_entropy",
    "lpa_communities",
    "log_rank_test",
    "mann_kendall_trend",
    "recommendation_hitrate",
    "negative_sampling_pairs",
    "isotonic_calibration",
    # round-9 session-2 additions: distribution tests (data-sized rank/
    # moment aggregates), closed-form ridge, recursive-CTE SQL surface,
    # JVM-side array HOFs. anova/l_diversity/lateral are sub-second
    # fixed-overhead rows and stay un-benched by the r8 noise convention.
    "ks_test_two_sample",
    "kruskal_wallis_priority",
    "kendall_tau_daily",
    "ridge_regression_price",
    "recursive_cte_paths",
    "array_hof_stats",
    "bh_fdr_brand_price",
    "kcore_peel_rounds",
    "heaps_law_fit",
    "permutation_test_price",
    "conformal_interval_price",
    "mutual_info_features",
    "vif_features",
    "regression_influence_topk",
    "levene_brown_forsythe",
    "jarque_bera_price",
    "breusch_pagan_price",
    "durbin_watson_daily",
    "chow_break_test",
    "ngram_novelty_rate",
    "window_funnel_timebound",
    "abc_xyz_parts",
    "price_elasticity_by_brand",
    "percentile_cont_priority",
    "theil_index_revenue",
    "hhi_brand_concentration",
    "streaming_window_funnel",
    "rmst_retention",
    "tukey_hsd_priority",
    "frequent_token_subsample",
    "oaxaca_price_gap",
    "lorenz_curve_deciles",
    "granger_causality_daily",
    "holt_winters_forecast",
    "anderson_darling_price",
    "adaboost_two_stumps",
    "ks_normality_price",
    "event_rate_test",
    "cramers_v_pairs",
    # round-10: Ljung–Box whiteness (daily agg + calendar-bounded lags),
    # Friedman blocked ranks (month×priority agg), CMH stratified 2×2
    # (one lineitem-sized groupBy) — all single data-sized aggregates
    "ljung_box_daily",
    "friedman_test_priority",
    "cmh_discount_returns",
    # round-11: at-rest-index evaluation entries — the drift dial over
    # the upserted IVF index (per-cell aggregate) and the banding-
    # precision dial (candidate join + in-row verify: the DETECTOR bill,
    # not an all-pairs truth, so the truth-bound exclusion above does
    # not apply)
    "ann_index_drift_monitor",
    "neardup_band_precision",
    "semantic_dedup_scaled",
    # round-12: adaptive-cell index lifecycle (cells ∝ N, probe statically
    # pruned to the driver-routed cell selection) — minhash_band_frontier
    # is EXCLUDED by the same truth-bound convention as minhash_band_recall
    "embedding_topk_ivf_adaptive",
    "ann_index_delete_compact",
    "ann_recall_vs_nprobe_stored",
    # round-13: lifecycle-recall readout, adaptive-quantizer drift dial,
    # filtered probe (metadata predicate as pure partition pruning) —
    # recall truths are broadcast-panel scans, so the truth-bound
    # exclusion does not apply (same call as ann_recall_vs_nprobe_stored)
    "ann_recall_lifecycle",
    "ann_index_drift_adaptive",
    "ann_probe_filtered_stored",
    "ann_filtered_recall_at_k",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    # optional subset, e.g. the TPC-H headliners for the sf1 scaling run
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    bench_queries = only.split(",") if only else BENCH_QUERIES

    import __spark_entry__ as entrymod

    # Settle loop (VERDICT r9 item 4): the driver's BENCH_r09 started at
    # loadavg 2.71 and produced an artifact reading 1.44x on untouched
    # plans (quiet-box re-runs: all <=1.31x). A hot start makes the
    # artifact garbage, so refuse to start until the box quiets down —
    # bounded, then proceed anyway with the contention flagged in the
    # output so the row is adjudicable.
    settle_load = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_LOAD", "1.0"))
    settle_max = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_MAX_SEC", "600"))
    settle_t0 = time.monotonic()
    while (
        os.getloadavg()[0] >= settle_load
        and time.monotonic() - settle_t0 < settle_max
    ):
        print(
            f"bench: box contended (loadavg {os.getloadavg()[0]:.2f} >= "
            f"{settle_load}) — waiting for it to settle "
            f"({time.monotonic() - settle_t0:.0f}/{settle_max:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(15)
    settle_wait = round(time.monotonic() - settle_t0, 1)

    loadavg_start = os.getloadavg()[0]
    contended_start = loadavg_start >= settle_load
    if contended_start:
        print(
            f"bench: STARTING CONTENDED after {settle_wait}s wait "
            f"(loadavg {loadavg_start:.2f}) — artifact will carry "
            f'"contended_start": true',
            file=sys.stderr,
        )
    spark = get_spark("bench")
    # warm-up: JVM startup + parquet footer/file-index caches for every
    # table — session cost, not per-query cost (first-touch scan setup
    # otherwise lands on whichever query reads the table first)
    from cocktailsdb_spark.tables import TABLES

    for t in TABLES:
        try:
            load(spark, sf_dir, t).count()
        except Exception as exc:  # noqa: BLE001 — warm-up must not kill the run
            print(f"bench: warm-up {t} failed: {exc}", file=sys.stderr)

    # pre-spawn the Python worker pool: the first Arrow/pandas stage of the
    # run otherwise pays worker fork + Arrow init inside whichever query
    # touches mapInPandas first (measured as a multi-second first-touch
    # spike on multimodal_features). One trivial mapInPandas across every
    # core makes that session cost, like the JVM warm-up above.
    def _ident(batches):
        yield from batches

    ncpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(ncpus * 4).repartition(ncpus).mapInPandas(
        _ident, "id long"
    ).write.mode("overwrite").format("noop").save()

    # JIT warm-up: the session-aging probe (bench_aging_probe_r9.json)
    # showed per-query cost FALLS ~30% over the first ~50 executed queries
    # (HotSpot compiling Spark's scheduler/codegen paths) — so the first
    # timed rows otherwise carry JVM warm-up that later rows don't. A few
    # repeated representative queries move that cost into session setup.
    queries = entrymod.queries()
    for warm in ("exact_dedup_hash", "tpch_q1_pricing", "window_tumbling_hour"):
        if warm in queries:
            for _ in range(2):
                try:
                    queries[warm](spark, sf_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: warm-up {warm} failed: {exc}", file=sys.stderr)
                    break

    timings: dict[str, float] = {}
    spreads: dict[str, dict] = {}
    errors: dict[str, str] = {}
    noisy: list[str] = []
    for name in bench_queries:
        # one broken query must never cost the whole run its numbers:
        # isolate every query, record the error, keep benchmarking
        try:
            fn = queries[name]

            # best of 2 (+1 rep if the two disagree >2x): the VM's
            # noisy-neighbor variance swings single runs 3x; the min is
            # the honest compute cost of the plan. ALL reps are recorded
            # (BASELINE.md "bench noise convention") so a slow row in the
            # artifact is adjudicable as noise vs regression without
            # manual re-runs: spread = max/min over reps, and rows with
            # spread > 2 are listed under "noisy" and get a third rep.
            def _rep() -> float:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                return time.perf_counter() - t0

            # streaming entries pay a first-rep state-store/stream-engine
            # warmup (RocksDB instance + micro-batch planner init) that the
            # session-level warm-ups above don't cover — measured every
            # round as a ~2x first-rep spike on streaming_tumbling_rocksdb
            # (2.79 s in-run vs 1.45 s isolated, BASELINE.md r12 notes).
            # One DISCARDED rep moves that into session cost so the timed
            # reps measure the plan, not the engine bring-up.
            if name.startswith("streaming_"):
                _rep()
            reps = [_rep(), _rep()]
            # sub-2s rows are fixed-overhead-dominated and the ones the
            # VM's noisy-neighbor spikes distort hardest (r8 post-mortem:
            # the committed artifact read a uniform ~2x drift on exactly
            # these rows while the aging probe reproduced baseline on a
            # quiet box — bench_aging_probe_r9.json). A third rep is
            # cheap there and makes the min a defensible plan cost.
            if min(reps) < 2.0 or max(reps) / min(reps) > 2.0:
                reps.append(_rep())
            spread = round(max(reps) / min(reps), 2)
            timings[name] = round(min(reps), 3)
            spreads[name] = {"reps": [round(r, 3) for r in reps], "spread": spread}
            if spread > 2.0:
                noisy.append(name)
                print(
                    f"bench: {name} spread {spread}x across {len(reps)} reps "
                    f"{spreads[name]['reps']} — treat the row as noisy",
                    file=sys.stderr,
                )
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bench_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spreads": spreads,
        "sf": sf,
        # environment note (BASELINE.md noise convention): the 1-minute
        # load average bracketing the run makes a drifted artifact
        # adjudicable as box contention vs plan regression without
        # re-running (the r8 artifact's uniform sub-second drift was
        # exactly this — bench_aging_probe_r9.json).
        "loadavg_start": round(loadavg_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "settle_wait_sec": settle_wait,
        # session state the timed rows reuse (set up by the warm-up
        # above, never a cached result): tables.load's parquet schema
        # memo and the generated-class cache cap
        "session_state": {
            "parquet_schema_memo": "tables.load: one inference per session and file identity (real path, mtime_ns, size)",
            "codegen_cache_max_entries": int(
                spark.conf.get("spark.sql.codegen.cache.maxEntries")
            ),
        },
    }
    if contended_start:
        out["contended_start"] = True
    if noisy:
        out["noisy"] = noisy
    if errors:
        out["errors"] = errors
    payload = json.dumps(out)
    # the full artifact is ALSO committed at the repo root: the driver's
    # recorded BENCH_r{N}.json has been truncated mid-stream before
    # (round 5), which loses the totals — bench_latest.json is the
    # authoritative, complete copy (judge directive 7). Subset runs
    # (SPARK_GRAFT_BENCH_ONLY) and non-default-SF runs (scaling probes)
    # must not clobber the full sf0.1 artifact.
    if not only and sf == 0.1:
        try:
            (Path(__file__).resolve().parent / "bench_latest.json").write_text(
                payload + "\n"
            )
        except OSError as exc:
            print(f"bench: could not write bench_latest.json: {exc}", file=sys.stderr)
    print(payload)


if __name__ == "__main__":
    main()
