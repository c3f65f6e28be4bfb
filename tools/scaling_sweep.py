"""Two-decade scaling sweep (round-5 judge directive 3): run the most
expensive fact-side plans at sf0.1 → sf1 → sf10 and record per-query
best-of-2 wall-clocks into scaling_r6.json. Two measured decades of
scaling is qualitatively stronger evidence for the 100× posture claims
than one — a plan hiding super-linear behavior shows its hand by sf10.

Fixture prep (see tools/make_sf1.py for the replication + text-salting
scheme — note salted replicas remain genuine NEAR-duplicates, so the two
near-dup rows are output-bound; scaling_r8.json "neardup_pairs" holds the
pair counts that normalize them):

    python tools/make_sf1.py --dst /tmp/cdbspark_sf1
    python tools/make_sf1.py --replicas 100 --dst /tmp/cdbspark_sf10
    python tools/scaling_sweep.py

Embedding/ANN entries are excluded: embeddings are not replicated (the
ANN corpus is fixed; its scale story is the cell-count/recall-dial
analysis). Each SF column runs in a FRESH interpreter via bench.py so
JVM/codegen caches never leak across scales.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SCALE_QUERIES = [
    "pagerank_top_nodes",
    "graph_bfs_levels",
    "spearman_rank_corr",
    "correlation_matrix",
    "correlation_matrix_fast",
    "minhash_banded_pairs",
    "tpch_q1_pricing",
    "tpch_q5_local_supplier",
    "tpch_q21_sole_problem_supplier",
    "winsorized_stats",
    "fk_orphans_report",
    "ngram_jaccard_prefix",
    "simhash_fingerprint",
    "salted_groupby",
    "sessionize_events",
    "boilerplate_coverage",
    "exact_dedup_hash",
    "bpe_merge_train",
]


def run_sf(sf_dir: str, queries: list[str]) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(queries)
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        cwd=str(ROOT),
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--dirs",
        default="/root/testdata/sf0.1,/tmp/cdbspark_sf1,/tmp/cdbspark_sf10",
    )
    ap.add_argument("--labels", default="sf0.1,sf1,sf10")
    ap.add_argument("--out", default=str(ROOT / "scaling_r6.json"))
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registry entries (default: the round-6 list)",
    )
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else SCALE_QUERIES

    result: dict = {
        "note": (
            "best-of-2 per query per SF, fresh interpreter per SF column "
            "(bench.py subprocess); fixtures via tools/make_sf1.py with "
            "per-replica text salting (replicas distinct but still "
            "near-duplicate — see neardup_pairs for the output-size "
            "normalization of the two near-dup rows)"
        ),
        "queries": queries,
    }
    for label, d in zip(args.labels.split(","), args.dirs.split(",")):
        print(f"== {label}: {d}")
        bench = run_sf(d, queries)
        result[label] = bench["queries"]
        result[f"{label}_spreads"] = bench.get("spreads", {})
        if bench.get("errors"):
            result[f"{label}_errors"] = bench["errors"]
        Path(args.out).write_text(json.dumps(result, indent=1) + "\n")
        print(json.dumps(bench["queries"], indent=1))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
