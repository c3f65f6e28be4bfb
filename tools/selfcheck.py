"""Self-check harness mimicking the driver's t2 verify: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at the
same SF, compare row count + column names + order-insensitive values.

Usage: python tools/selfcheck.py [--sf /root/testdata/sf0.01] [--only name[,name]]

``reference_parity_poc`` reads the reference's own data files, not ``--sf``.
Where those files are absent it runs over seeded files in the same formats
(perfbench/gen_bar.py), and its ledger row records ``"input": "generated"``
and the seed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from cocktailsdb_spark.plans import reference_parity as rp  # noqa: E402
from cocktailsdb_spark.session import get_spark  # noqa: E402
from cocktailsdb_spark.tables import TABLES  # noqa: E402


def _cell(x) -> str:
    # Type-faithful on numeric KIND (int vs float): the driver's value
    # hash distinguishes BIGINT 1496 from DOUBLE 1496.0, and in r9 a bare
    # "%.10g" here rendered both as "1496", masking a DuckDB
    # HUGEINT->float64 oracle divergence the driver caught
    # (kaplan_meier_retention / nelson_aalen_hazard). Width (int32 vs
    # int64) is NOT distinguished — only the pandas dtype kind is.
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return "NULL"
    if isinstance(x, (np.floating, float)):
        return f"f:{float(x):.10g}"
    if isinstance(x, (np.integer, int)) and not isinstance(x, bool):
        return f"i:{int(x)}"
    if isinstance(x, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(x)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(x, dt.date):
        return x.isoformat()
    return str(x)


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


# reference_parity_poc's stand-in input where the reference files are absent
GEN_SEED = 7
GEN_ROWS_PER_BAR = (1_000, 200)  # an initial load, then one incremental batch


def _generated_reference_poc(spark, work: str) -> tuple[DataFrame, str]:
    """``reference_parity_poc``'s own code path (``build_reference_database``)
    over seeded inputs in the reference formats (perfbench/gen_bar.py: the
    Hungarian-header CSV, the headerless TSV, ``MM-DD-YYYY`` dates, dirty
    stock). One call per batch, so the second call runs the incremental
    path. Returns the result (a table under ``work``) and the reference
    oracle SQL pointed at the same files."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    from gen_bar import BarSources

    src = BarSources(f"{work}/inputs", GEN_SEED)
    for rows in GEN_ROWS_PER_BAR:
        src.add_batch(rows)
        sdf = rp.build_reference_database(spark, *src.paths, cache_base=f"{work}/db")
    bar_data, bud, lon, ny = src.paths
    sql = (
        rp.REFERENCE_POC_SQL.replace(rp.BAR_DATA, bar_data)
        .replace(rp.BUDAPEST, f"{bud}/*.csv.gz")
        .replace(rp.LONDON, f"{lon}/*.csv.gz")
        .replace(rp.NY, f"{ny}/*.csv.gz")
    )
    return sdf, sql


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--default-session",
        action="store_true",
        help="run under a driver-like plain session (ANSI on, 200 shuffle "
        "partitions, host timezone) instead of the tuned get_spark() — "
        "every entry must stay oracle-green there too",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf overrides applied after session build "
        "(e.g. spark.sql.adaptive.enabled=false for an AQE-off "
        "insurance sweep)",
    )
    args = ap.parse_args()
    # one result line per entry, visible as it lands even when the output
    # goes to a file
    sys.stdout.reconfigure(line_buffering=True)

    if args.default_session:
        import os as _os2

        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(
                f"local[{_os2.environ.get('SPARK_GRAFT_CPUS', '16')}]"
            )
            .appName("selfcheck-default")
            .config("spark.sql.ansi.enabled", "true")
            .getOrCreate()
        )
    else:
        spark = get_spark("selfcheck")
    for kv in args.conf:
        if "=" not in kv:
            ap.error(f"--conf expects K=V, got {kv!r}")
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    con = duckdb.connect()
    import os as _os

    for t in TABLES:
        # driver fixtures are single parquet FILES; Spark-written fixtures
        # (e.g. tools/make_sf1.py) are DIRECTORIES of part files
        path = f"{args.sf}/{t}.parquet"
        if _os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    # reference_parity_poc reads the reference's own files, not --sf: where
    # they are absent it runs over generated files in the same formats, and
    # its ledger row says so
    generated = set() if rp.reference_data_present() else {"reference_parity_poc"}

    n_pass = n_fail = n_rows_only = 0
    ledger = _Ledger(args.sf, generated)
    for name, fn in queries.items():
        if only and name not in only:
            continue
        oracle = oracles.get(name)
        t0 = time.time()
        try:
            if name in generated:
                # the oracle reads these files too; removed when main returns
                work = tempfile.TemporaryDirectory(prefix="selfcheck_refgen_")
                sdf, oracle = _generated_reference_poc(spark, work.name)
                sdf = sdf.toPandas()
            else:
                sdf = fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            ledger.put(name, {"status": "FAIL", "rows": 0})
            continue
        t_spark = time.time() - t0
        if oracle is None:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, {t_spark:.1f}s)")
            n_rows_only += 1
            ledger.put(name, {"status": "rows", "rows": len(sdf)})
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            ledger.put(name, {"status": "FAIL", "rows": len(sdf)})
            continue
        t_duck = time.time() - t0
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duckdb={len(odf)}")
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            problems.append(f"cols spark={s_cols} duckdb={o_cols}")
        if not problems:
            s_rows, o_rows = normalize(sdf), normalize(odf)
            if s_rows != o_rows:
                diff = [
                    (a, b) for a, b in zip(s_rows, o_rows) if a != b
                ][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
            ledger.put(name, {"status": "FAIL", "rows": len(sdf)})
        else:
            via = " on generated input" if name in generated else ""
            print(f"ok    {name}: {len(sdf)} rows{via} (spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)")
            n_pass += 1
            ledger.put(name, {"status": "ok", "rows": len(sdf)})

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    print(
        f"ledger: {n_pass + n_rows_only + n_fail} entries updated -> {LEDGER.name}"
    )
    return 1 if n_fail else 0


LEDGER = Path(__file__).resolve().parent.parent / "selfcheck_ledger.json"


class _Ledger:
    """Per-entry outcomes merged into selfcheck_ledger.json.

    The ledger is the committed record that EVERY registry entry has
    oracle evidence on its CURRENT source (tests/test_sweep_gate.py —
    VERDICT r8 task 4: two entries reached the judge with no committed
    oracle evidence because they post-dated the last full sweep; the
    gate makes "sweep runs on the closing tree" mechanical). Each record
    carries the entry's source hash at check time, so an entry edited
    after its last check fails the gate until re-checked — partial
    ``--only`` runs update just their entries, so the gate is satisfiable
    incrementally without a full sweep per commit. An entry in
    ``generated`` ran on generated input, not at ``sf``; its row says so.

    Each entry's row is written as soon as the entry finishes (through a
    temporary file and a rename), so a sweep that dies part-way still
    records every entry it checked.
    """

    def __init__(self, sf: str, generated: set[str]) -> None:
        self.sf, self.generated = sf, generated
        self.rows = json.loads(LEDGER.read_text()) if LEDGER.exists() else {}

    def put(self, name: str, rec: dict) -> None:
        from cocktailsdb_spark.registry import entry_source_hash

        self.rows[name] = {**rec, "sf": self.sf, "source_hash": entry_source_hash(name)}
        if name in self.generated:
            self.rows[name].update(input="generated", seed=GEN_SEED, sf=None)
        tmp = LEDGER.with_name(LEDGER.name + ".tmp")
        tmp.write_text(json.dumps(self.rows, indent=1, sort_keys=True) + "\n")
        tmp.replace(LEDGER)


if __name__ == "__main__":
    sys.exit(main())
