"""Exchange budgets: every headline query has a known shuffle count that
its 100 TB posture depends on (PLANS.md shows the full plans). A regression
that adds an exchange — a lost broadcast, a dropped partitioning reuse, a
window where an aggregate belongs — fails here long before it shows up as
a bench number drifting inside the noise band.

Budgets are static plan counts (final AQE tree); AQE can only merge
exchanges at runtime, never add them, so <= is the right direction.
"""

from __future__ import annotations

import pytest

from __spark_entry__ import queries
from tools.plan_audit import fmt_plan, node_counts

# name -> max exchanges allowed in the final planned tree
BUDGETS = {
    "poc_analysis": 2,  # fact agg + post-agg stock join side
    "tpch_q1_pricing": 1,  # the one aggregate
    "tpch_q3_shipping_priority": 1,
    "partition_pruned_load": 0,  # pruning + narrow filter only
    "kmeans_assign_centroid": 0,  # literal-folded narrow argmin
    "embedding_topk_ivf": 1,  # final per-query top-k window
    "embedding_topk_ivf_kmeans": 1,
    "exact_dedup_hash": 1,
    "sessionize_events": 1,  # one user-partitioned window chain
    "asof_join_signup": 1,
    "funnel_conversion": 2,
    "snapshot_diff_cdc": 2,
    "multimodal_features": 1,  # spread() repartition feeding mapInPandas
    # round-5 additions
    "boilerplate_ngrams": 2,  # spread() + the one gram aggregate
    "semantic_dedup": 2,  # cell self-join + drop-set join (assignment is narrow)
    "semantic_dedup_scaled": 2,  # same shape on (cell, bucket) — bucket is narrow
    "embedding_topk_sq": 2,  # coarse + rerank windows (both on query_id)
    "embedding_topk_pq": 2,  # same two-pass shape over the m-byte codes
    # df agg + stats scalar + score agg (tf checkpointed) + the r14
    # spread() round-robin fan-out of the single-row-group corpus scan
    # feeding both tokenize passes (OPTIMIZATION_r14.md batch 2)
    "bm25_rank_query": 4,
    "gapfill_daily_revenue": 2,  # daily agg + LOCF window (spine joins broadcast)
    "skyline_parts": 1,  # distinct-point agg; both skyline passes are narrow
    # round-8 scale-path additions
    "pack_sequences_sharded": 1,  # the one shard-partitioned window
    "rfm_segments_scaled": 4,  # stacked hist agg + pass-2 window + scalar cuts + census
    "winsorized_stats_scaled": 4,  # hist agg + pass-2 window (post-ckpt) + clip agg
    "spearman_rank_corr_scaled": 1,  # post-ckpt: rank windows + final agg share one g-exchange
    # round-5 session-2 additions
    "asof_join_next": 1,  # union + one user-partitioned following window
    "winsorized_stats": 2,  # rank window + clipped agg (cuts broadcast back)
    "source_cap_firstn": 2,  # salted pre-truncate window + per-source window
    # round-8 evaluation family (all post-aggregate payloads are
    # score-histogram- or bin-sized, never data-sized)
    "classifier_eval_report": 1,  # the one scalar aggregate
    "roc_auc_score": 6,  # score hist + two-pass bucket prefix (<=101 buckets)
    "calibration_bins": 2,  # bin agg + output sort
    "gains_lift_table": 5,  # bin agg + bounded bin window + scalar totals
    # pmi/ccnet/encoding_runs carry several SINGLE-PARTITION scalar-agg
    # exchanges (vocab totals, doc counts, calendar-day stitches) whose
    # payloads are constant-size; the budgets pin the overall count so a
    # lost broadcast (which would add a data-sized exchange) still trips
    "pmi_collocations": 11,
    "ccnet_quality_buckets": 8,
    "encoding_runs_report": 8,
    # triangle_count is excluded: it runs while the plan is built and
    # returns its pinned one-row result, so its planned tree has no
    # exchange to budget (its result is pinned in tests/test_graph.py)
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    counts = node_counts(fmt_plan(df))
    got = counts.get("Exchange", 0)
    assert got <= BUDGETS[name], (
        f"{name}: {got} exchanges planned, budget {BUDGETS[name]} — "
        f"plan nodes: {counts}"
    )


def test_registry_budget_snapshot(spark, sf_dir):
    """Whole-registry exchange budgets (round-5 judge directive 6): every
    entry must have a recorded budget in plan_budgets.json (regenerate
    with tools/budget_snapshot.py when adding entries), and no entry's
    planned Exchange count may exceed it — a lost broadcast anywhere in
    the registry fails here, not just in the hand-pinned headliners."""
    import json
    import tempfile
    from pathlib import Path

    from __spark_entry__ import queries
    from cocktailsdb_spark.plans.reference_parity import reference_data_present
    from tools.selfcheck import _generated_reference_poc

    snap = json.loads(
        (Path(__file__).resolve().parent.parent / "plan_budgets.json").read_text()
    )
    qs = queries()
    missing = sorted(set(qs) - set(snap))
    assert not missing, (
        f"entries with no recorded exchange budget: {missing} — run "
        "python tools/budget_snapshot.py"
    )
    work = tempfile.TemporaryDirectory(prefix="budget_refgen_")
    if not reference_data_present():
        # reference_parity_poc reads the reference's own files, not sf_dir:
        # where they are absent it is built over the seeded generated inputs
        # that tools/selfcheck.py checks it on
        qs["reference_parity_poc"] = (
            lambda spark, sf_dir: _generated_reference_poc(spark, work.name)[0]
        )
    over: list[str] = []
    errors: list[str] = []
    stale_errors: list[str] = []
    for name, fn in qs.items():
        rec = snap[name]
        if "error" in rec:
            # The snapshot recorded a plan-build error. Don't skip forever:
            # if the plan now builds, the snapshot is stale and the entry
            # has NO enforced budget — fail so it gets regenerated.
            try:
                fn(spark, sf_dir)
            except Exception:  # noqa: BLE001 — still erroring, as recorded
                continue
            stale_errors.append(
                f"{name}: snapshot records a build error but the plan now "
                "builds — run python tools/budget_snapshot.py"
            )
            continue
        try:
            got = node_counts(fmt_plan(fn(spark, sf_dir))).get("Exchange", 0)
        except Exception as exc:  # noqa: BLE001
            errors.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        if got > rec["exchanges"]:
            over.append(f"{name}: planned {got} > recorded {rec['exchanges']}")
    work.cleanup()
    # one assertion: a build error must not hide a regression elsewhere
    problems = errors + stale_errors + over
    assert not problems, "\n".join(problems)
