"""Toy-size checks of the benchmark itself (about five minutes):

    python3 -m pytest perfbench/tests -q

Each test runs ``perfbench/run.py`` in a fresh process, the way the
benchmark is meant to be run, and reads its last two stdout lines
(metadata, result).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

sys.path.insert(0, BENCH)
from run import END_TO_END, per_layer_names  # noqa: E402

COUNTS = (
    "tables.load_calls",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_mb",
)


def run_bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    meta, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return meta, result


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names()


@pytest.mark.parametrize("workload", ["bar_etl", "star_queries", "corpus_ops"])
def test_smoke_prints_every_end_to_end_metric(workload):
    meta, result = run_bench(workload, seed=3, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and meta["error_rate"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["bar_etl", "corpus_ops"])
def test_traced_counts_repeat_exactly(workload):
    runs = [run_bench(workload, seed=5, trace=1)[1] for _ in range(2)]
    for result in runs:
        assert result["correct"]
        assert {k: v["unit"] for k, v in result["metrics"].items()} == per_layer_names()
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert spans and {"name", "start", "end", "parent", "op"} <= set(spans[0])
    a, b = (r["metrics"] for r in runs)
    counts = [k for k in a if k.endswith("_jobs") or k in COUNTS]
    assert {k: a[k]["value"] for k in counts} == {k: b[k]["value"] for k in counts}
    # not exact: the pipeline's run_history table stores a random run id
    # and wall-clock stage times, so its parquet size moves by a few bytes
    ratio = "bar_pipeline.stored_bytes_per_input_byte"
    assert a[ratio]["value"] == pytest.approx(b[ratio]["value"], rel=1e-3)
