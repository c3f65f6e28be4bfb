"""Round-15 optimization profiler.

Times individual registry queries under the bench's exact methodology
(warm session, noop sink, best-of-N) and splits plan-build (Python →
analyzed/optimized plan) from execution, so optimization targets the
right layer. Optionally dumps explain("formatted") to plans/r15/.

    python tools/r15_profile.py --only a,b,c [--reps 3] [--explain before]
    python tools/r15_profile.py --conf spark.sql.files.openCostInBytes=262144 --only ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from cocktailsdb_spark.session import get_spark  # noqa: E402
from cocktailsdb_spark.tables import TABLES, load  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, help="suffix: write plans/r15/<q>_<suffix>.txt")
    ap.add_argument("--conf", action="append", default=[], help="k=v session conf override")
    args = ap.parse_args()

    extra = {}
    for kv in args.conf:
        k, v = kv.split("=", 1)
        extra[k] = v
    spark = get_spark("r15_profile", extra_conf=extra)
    for k, v in extra.items():
        spark.conf.set(k, v)  # getOrCreate may reuse an existing session

    for t in TABLES:
        try:
            load(spark, args.sf, t).count()
        except Exception:  # noqa: BLE001
            pass

    def _ident(batches):
        yield from batches

    spark.range(128).repartition(32).mapInPandas(_ident, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    queries = entrymod.queries()
    for warm in ("exact_dedup_hash", "tpch_q1_pricing", "window_tumbling_hour"):
        for _ in range(2):
            queries[warm](spark, args.sf).write.mode("overwrite").format("noop").save()

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "r15"
    out = {}
    for name in args.only.split(","):
        fn = queries[name]
        plan_times, exec_times = [], []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            # force analysis + optimization + physical planning
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            plan_times.append(t1 - t0)
            exec_times.append(t2 - t1)
        if args.explain:
            plans_dir.mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            (plans_dir / f"{name}_{args.explain}.txt").write_text(txt)
        out[name] = {
            "plan_best": round(min(plan_times), 3),
            "exec_best": round(min(exec_times), 3),
            "plan_reps": [round(x, 3) for x in plan_times],
            "exec_reps": [round(x, 3) for x in exec_times],
        }
        print(
            f"{name}: plan {out[name]['plan_best']}s exec {out[name]['exec_best']}s "
            f"(plan reps {out[name]['plan_reps']}, exec reps {out[name]['exec_reps']})",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
