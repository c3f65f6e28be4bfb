#!/usr/bin/env python3
"""Steady-state benchmark of the cocktailsdb_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_ops --seed 1 --seconds 8 --trace 0

Workloads (see workloads.py): ``bar_etl`` (the incremental bar pipeline),
``corpus_ops`` (LLM-pipeline and graph operators) and ``star_queries``
(read-only registry queries over the star schema). BENCHMARK.json lists
only the first two: every run pays ~35-45 s of session start and cold
warm-up, and two workloads' worth of runs is what fits the benchmark's
total run-time budget. ``star_queries`` stays runnable as the
execution-dominated side of the per-layer comparison.

Each run generates its inputs from ``--seed`` into a temporary directory
under the repository root, starts one session on ``local[2]`` with a
fixed 4 GB driver heap, warms it while checking every op's answer, then
times whole passes of ops until ``--seconds`` of op time have accumulated.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
engine's entry points (tracer.py), alternates untraced and traced passes
(at least untraced, traced, untraced), and prints the per-layer metrics of
the first traced pass (the second pass) plus the tracing overhead: the
traced passes' median op latency over the untraced passes'. A traced run
also writes its spans to ``.perfbench_out/<workload>-spans.jsonl`` under
the repository root, one JSON object per line.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries run metadata (load
average, steal, tail percentile, error rate, failures and, for traced
runs, every op's build/exec split).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input sizes per --scale; "toy" is the smoke-test size
SCALES = {
    "full": {"sf": 0.01, "bar_initial": 3_000, "bar_batch": 1_000},
    "toy": {"sf": 0.001, "bar_initial": 300, "bar_batch": 100},
}
MIN_LATENCY_SAMPLES = 2
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "live_heap_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    from workloads import BAR_OPS, CORPUS_OPS

    names = {
        "session.start_s": "s",
        "tables.load_calls": "count",
        "tables.load_s": "s",
        "tables.load_jobs": "count",
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "spark.catalyst_s": "s",
        "spark.exec_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_s": "s",
        "spark.parallelism": "x",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.peak_exec_mem_mb": "MB",
        "python.worker_cpu_s": "s",
    }
    for stage in BAR_STAGES:
        names[f"bar_pipeline.{stage}_s"] = "s"
        names[f"bar_pipeline.{stage}_jobs"] = "count"
    names.update({
        "bar_pipeline.bytes_written": "bytes",
        "bar_pipeline.noop_run_s": "s",
        "bar_pipeline.stored_bytes_per_input_byte": "ratio",
        "sources.watermark_read_s": "s",
        "sources.watermark_write_s": "s",
        "sources.bounded_keys_s": "s",
        "sources.fetch_s": "s",
        "runlog.flush_s": "s",
        "trace.op_p50_s": "s",
        "trace.untraced_op_p50_s": "s",
        "trace.overhead": "ratio",
    })
    # per-op figures only for the workloads BENCHMARK.json lists; the
    # star_queries split goes to the metadata line (``op_split``)
    for op in CORPUS_OPS:
        names[f"op.{op}.build_s"] = "s"
    for op in CORPUS_OPS + BAR_OPS:
        names[f"op.{op}.exec_s"] = "s"
    return names


BAR_STAGES = ("sales_data", "bar_data", "cocktail_dim", "sinks", "poc_ctas", "short_circuit")


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read().decode()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond): the highest sample with at
    least 10 samples above it — or a quarter of the samples when there are
    fewer than 40, so short runs still get a figure above the median."""
    xs = sorted(samples)
    beyond = min(10, len(xs) // 4)
    idx = len(xs) - 1 - beyond
    return xs[idx], int(100 * (idx + 1) / len(xs)), beyond


def make_workload(name: str, scale: dict):
    from workloads import CORPUS_OPS, STAR_OPS, BarWorkload, QueryWorkload

    if name == "star_queries":
        return QueryWorkload(STAR_OPS, scale["sf"])
    if name == "corpus_ops":
        return QueryWorkload(CORPUS_OPS, scale["sf"])
    return BarWorkload(scale["bar_initial"], scale["bar_batch"])


def start_session(run_dir: str):
    from cocktailsdb_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": f"-Xms4g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM and the Python workers below it, and
    wait for them to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pin_environment(run_dir: str) -> None:
    """Everything the run writes stays under ``run_dir``; Python workers
    can import the engine whatever the working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (HERE, os.path.join(ROOT, "tools"), ROOT):
        sys.path.insert(0, p)


class Runner:
    """Times whole passes of a workload's ops and aggregates the samples."""

    def __init__(self, wl, spark, trace: bool):
        from sparkstats import SparkStats
        from tracer import TRACER

        self.wl = wl
        self.trace = trace
        self.tracer = TRACER
        self.stats = SparkStats(spark)
        self.samples: list[dict] = []  # name, seconds, ok, traced, pass
        self.heap_mb: list[float] = []
        self.window_s = 0.0
        self.layer: dict[str, float] = {}
        self.op_split: dict[str, float] = {}
        if trace:
            TRACER.bind(spark)
            self.stats.listen_catalyst()

    def run(self, seconds: float) -> None:
        p = 0
        while True:
            traced = self.trace and p % 2 == 1
            self._pass(p, traced)
            self.heap_mb.append(self.stats.live_heap_mb())
            p += 1
            # a pass of bar_etl holds one latency sample (its batch op), so
            # it runs at least two passes whatever the machine's speed; traced
            # runs bracket their traced pass with untraced ones, so the
            # warming trend cancels out of the overhead figure
            if (self.window_s >= seconds and len(self.latencies()) >= MIN_LATENCY_SAMPLES
                    and (not self.trace or p >= 3)):
                break

    def _pass(self, p: int, traced: bool) -> None:
        from sparkstats import python_worker_cpu_s

        first_traced = traced and p == 1
        stored = getattr(self.wl, "stored_bytes", None)
        bytes0 = stored() if first_traced and stored else 0
        self.tracer.active = traced
        per_op = []
        for name in self.wl.pass_ops():
            op_id = len(self.samples)
            self.tracer.op_id = op_id
            if traced:
                self.stats.drain()
                cpu0, cat0 = python_worker_cpu_s(), self.stats.catalyst.ms
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tracer.span("op"):
                    self.wl.run_op(name)
            except Exception as e:  # noqa: BLE001 — counted, not fatal
                ok = False
                print(f"op {name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            dt = time.perf_counter() - t0
            self.window_s += dt
            self.samples.append({"name": name, "s": dt, "ok": ok, "traced": traced, "pass": p})
            print(f"perfbench: pass {p} {name}: {dt:.3f}s", file=sys.stderr)
            if traced:
                self.stats.drain()
                per_op.append((op_id, name, python_worker_cpu_s() - cpu0,
                               (self.stats.catalyst.ms - cat0) / 1000.0))
        self.tracer.active = False
        if first_traced:
            self._layers(per_op, bytes0)

    def _layers(self, per_op, bytes0: int) -> None:
        """Per-layer metrics of the first traced pass; ``bytes0`` is what
        the bar pipeline had stored before it."""
        from tracer import self_jobs, self_times

        spans = self.tracer.spans
        own_s, own_jobs = self_times(spans), self_jobs(spans)
        ops = {op_id for op_id, *_ in per_op}
        m = {k: 0.0 for k in per_layer_names()}
        split: dict[str, float] = {}
        names = {op_id: name for op_id, name, *_ in per_op}
        for i, s in enumerate(spans):
            if s["op"] not in ops:
                continue
            dur, jobs = s["end"] - s["start"], s["job1"] - s["job0"]
            n = s["name"]
            op = names[s["op"]]
            if n == "tables.load":
                m["tables.load_calls"] += 1
                m["tables.load_s"] += dur
                m["tables.load_jobs"] += jobs
            elif n == "op.build":
                m["registry.build_s"] += own_s[i]
                m["registry.build_jobs"] += own_jobs[i]
                key = f"op.{op}.build_s"
                split[key] = split.get(key, 0.0) + own_s[i]
            elif n == "op.exec":
                m["spark.exec_s"] += dur
                m["spark.jobs"] += jobs
                key = f"op.{op}.exec_s"
                split[key] = split.get(key, 0.0) + dur
                for k, v in self.stats.jobs(s["job0"], s["job1"]).items():
                    key = f"spark.{k}"
                    m[key] = max(m[key], v) if k == "peak_exec_mem_mb" else m[key] + v
            elif n.startswith("bar_pipeline."):
                m[f"{n}_s"] += dur
                m[f"{n}_jobs"] += jobs
            elif f"{n}_s" in m:
                m[f"{n}_s"] += dur
        for _, _, cpu, catalyst in per_op:
            m["python.worker_cpu_s"] += cpu
            m["spark.catalyst_s"] += catalyst
        m.update((k, v) for k, v in split.items() if k in m)
        if m["spark.exec_s"]:
            m["spark.parallelism"] = m["spark.task_s"] / m["spark.exec_s"]
        if hasattr(self.wl, "stored_bytes"):
            stored = self.wl.stored_bytes()
            m["bar_pipeline.bytes_written"] = stored - bytes0
            m["bar_pipeline.stored_bytes_per_input_byte"] = stored / self.wl.sources.input_bytes()
        self.layer = m
        self.op_split = split

    def latencies(self, traced: bool | None = None) -> list[float]:
        """Op latencies for the p50/tail figures: every op of the query
        workloads, the batch op of bar_etl."""
        keep = self.wl.latency_ops
        return [
            s["s"] for s in self.samples
            if (keep is None or s["name"] in keep) and (traced is None or s["traced"] == traced)
        ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bar_etl", "star_queries", "corpus_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "cocktailsdb_spark"))):
        print(f"perfbench: no cocktailsdb_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        pin_environment(run_dir)
        if args.trace:
            import tracer

            tracer.install()
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        print(f"perfbench: session start {session_s:.2f}s", file=sys.stderr)
        wl = make_workload(args.workload, SCALES[args.scale])
        log = lambda msg: print(f"perfbench: {msg}", file=sys.stderr)  # noqa: E731
        failures = wl.setup(spark, run_dir, args.seed, log)
        runner = Runner(wl, spark, bool(args.trace))

        setup_s = process_age_s()
        steal0, total0 = cpu_counters()
        load0 = loadavg1()
        runner.run(args.seconds)
        steal1, total1 = cpu_counters()
        load1 = loadavg1()
        t0 = time.perf_counter()
        for k, v in wl.finish().items():
            failures.setdefault(k, []).extend(v)
        log(f"end-of-run check {time.perf_counter() - t0:.2f}s")
        if args.trace:
            runner.tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"{args.workload}-spans.jsonl")
            )
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop_session(spark)
            print(f"perfbench: session stop {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = runner.samples
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in failures)
    lat = runner.latencies()
    tail_s, tail_q, tail_n = tail(lat)
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "passes": len(runner.heap_mb),
        "ops": len(samples),
        "window_s": runner.window_s,
        "error_rate": failed / len(samples),
        "op_tail_percentile": tail_q,
        "op_tail_samples_beyond": tail_n,
        "loadavg1_start": load0,
        "loadavg1_end": load1,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "failures": failures,
    }
    if args.trace:
        traced, untraced = runner.latencies(True), runner.latencies(False)
        layer = runner.layer
        layer["session.start_s"] = session_s
        layer["bar_pipeline.noop_run_s"] = statistics.median(
            [s["s"] for s in samples if s["name"] == "bar_noop"] or [0.0]
        )
        layer["trace.op_p50_s"] = statistics.median(traced)
        layer["trace.untraced_op_p50_s"] = statistics.median(untraced)
        layer["trace.overhead"] = layer["trace.op_p50_s"] / layer["trace.untraced_op_p50_s"]
        units = per_layer_names()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        meta["op_split"] = runner.op_split
    else:
        values = {
            "setup_s": setup_s,
            # over the same ops as the latency figures: on bar_etl the
            # no-op re-runs are neither counted nor timed here
            "ops_per_s": len(lat) / sum(lat),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "live_heap_mb": statistics.median(runner.heap_mb),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(meta, sort_keys=True))
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
