"""The benchmark's three workloads. Each is a single-client closed loop
over one warmed session: ``setup`` builds the seeded inputs and warms the
session (checking every op's answer on the way), ``pass_ops`` lists one
pass of ops in a fixed order, and ``run_op`` runs one op inside the
tracer's ``op.build`` / ``op.exec`` spans.

Only public entry points are called: ``__spark_entry__.queries()``,
``plans.bar_pipeline.build_database`` and
``sources.http_source.fake_transport``.
"""

from __future__ import annotations

import os
import time

import duckdb

from tracer import TRACER

STAR_OPS = (
    "poc_analysis",
    "tpch_q1_pricing",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_orders",
    "window_running",
    "dedup_latest_wins",
)
# minhash_banded_pairs and simhash_fingerprint are left out: each adds
# ~6 s (cold warm-up plus one timed run) to every run, which must stay
# around a minute; the dedup family stays covered by exact_dedup_hash and
# semantic_dedup
CORPUS_OPS = (
    "exact_dedup_hash",
    "semantic_dedup",
    "embedding_topk_ivf",
    "bm25_rank_query",
    "arrow_token_stats",
    "multimodal_features",
    "cogroup_asof_pandas",
    "pagerank_top_nodes",
)
BAR_OPS = ("bar_batch", "bar_noop")


def _frame_problems(sdf, odf) -> list[str]:
    """The selfcheck comparison: row count, column names, then
    order-insensitive normalized values."""
    from selfcheck import normalize

    if len(sdf) != len(odf):
        return [f"rowcount spark={len(sdf)} duckdb={len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"]
    if normalize(sdf) != normalize(odf):
        return ["values differ"]
    return []


class QueryWorkload:
    """``star_queries`` / ``corpus_ops``: one op is one registry query over
    the generated fixtures, run to the noop sink."""

    latency_ops = None  # every op is a latency sample

    def __init__(self, ops: tuple[str, ...], sf: float):
        self.ops = ops
        self.sf = sf

    def setup(self, spark, run_dir: str, seed: int, log) -> dict[str, list[str]]:
        import __spark_entry__ as entry
        import gen_star

        self.spark = spark
        self.sf_dir = os.path.join(run_dir, "fixtures")
        counts = gen_star.generate(self.sf_dir, seed, self.sf)
        log(f"fixtures sf={self.sf}: {counts}")
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in counts:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        # warm-up pass: every op once, its answer checked against the
        # DuckDB oracle twin (row count only where there is none)
        failures: dict[str, list[str]] = {}
        for name in self.ops:
            t0 = time.perf_counter()
            try:
                sdf = self.queries[name](spark, self.sf_dir).toPandas()
                if name in oracles:
                    problems = _frame_problems(sdf, con.execute(oracles[name]).df())
                else:
                    problems = [] if len(sdf) else ["no rows"]
            except Exception as e:  # noqa: BLE001 — a failing op is a result
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            if problems:
                failures[name] = problems
            log(f"warm-up {name}: {time.perf_counter() - t0:.2f}s {problems or 'ok'}")
        con.close()
        return failures

    def pass_ops(self) -> tuple[str, ...]:
        return self.ops

    def run_op(self, name: str) -> None:
        with TRACER.span("op.build"):
            df = self.queries[name](self.spark, self.sf_dir)
        with TRACER.span("op.exec"):
            df.write.format("noop").mode("overwrite").save()

    def finish(self) -> dict[str, list[str]]:
        return {}


class BarWorkload:
    """``bar_etl``: the paper's own pipeline. One ``bar_batch`` op lands one
    incremental batch (a new file per bar, then ``build_database`` and a
    count of ``poc_analysis``); each is followed by a ``bar_noop`` re-run
    with no new files, which takes the short-circuit path. The batch files
    are written before the op's clock starts."""

    latency_ops = ("bar_batch",)  # no-op re-runs are reported on their own

    def __init__(self, initial_rows: int, batch_rows: int):
        self.initial_rows = initial_rows
        self.batch_rows = batch_rows

    def setup(self, spark, run_dir: str, seed: int, log) -> dict[str, list[str]]:
        from gen_bar import BarSources

        self.spark = spark
        self.sources = BarSources(os.path.join(run_dir, "bar_inputs"), seed)
        self.base = os.path.join(run_dir, "bar_db")
        self.sources.add_batch(self.initial_rows)
        self.noops = 0
        t0 = time.perf_counter()
        self._build()  # initial full load
        log(f"bar_etl initial load: {self.sources.rows} rows, {time.perf_counter() - t0:.2f}s")
        for name in self.pass_ops():  # warm the incremental and no-op paths
            t0 = time.perf_counter()
            self.run_op(name)
            log(f"warm-up {name}: {time.perf_counter() - t0:.2f}s")
        return {}

    def _build(self) -> int:
        from cocktailsdb_spark.plans.bar_pipeline import build_database
        from cocktailsdb_spark.sources.http_source import fake_transport

        with TRACER.span("op.exec"):
            poc = build_database(
                self.spark, self.base, *self.sources.paths, transport=fake_transport
            )
            return poc.count()

    def pass_ops(self) -> tuple[str, ...]:
        self.sources.add_batch(self.batch_rows)
        return BAR_OPS

    def run_op(self, name: str) -> None:
        self._build()
        if name == "bar_noop":
            self.noops += 1

    def stored_bytes(self) -> int:
        """Bytes under the pipeline's base dir."""
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.base) for f in fs
        )

    def finish(self) -> dict[str, list[str]]:
        """Correctness, once per run after the timed window: every generated
        row landed exactly once, every no-op re-run short-circuited, and
        poc_analysis matches the reference PoC SQL over the same files."""
        from cocktailsdb_spark.plans import bar_pipeline
        from cocktailsdb_spark.plans import reference_parity as rp
        from cocktailsdb_spark.runlog import RunLog

        failures: dict[str, list[str]] = {}
        db = bar_pipeline.bar_db_name(self.base)
        landed = self.spark.table(f"{db}.global_sales").count()
        if landed != self.sources.rows:
            failures["bar_batch"] = [f"global_sales {landed} rows, generated {self.sources.rows}"]
        hist = RunLog.history(self.spark, os.path.join(self.base, "run_history"))
        shorts = hist.filter("stage = 'short_circuit'").count()
        if shorts != self.noops:
            failures["bar_noop"] = [f"{shorts} short-circuit runs for {self.noops} no-op re-runs"]
        bar_data, bud, lon, ny = self.sources.paths
        sql = (
            rp.REFERENCE_POC_SQL.replace(rp.BAR_DATA, bar_data)
            .replace(rp.BUDAPEST, f"{bud}/*.csv.gz")
            .replace(rp.LONDON, f"{lon}/*.csv.gz")
            .replace(rp.NY, f"{ny}/*.csv.gz")
        )
        want = duckdb.connect().execute(sql).df()
        got = self.spark.table(f"{db}.poc_analysis").toPandas()
        problems = _frame_problems(got, want)
        if problems:
            failures.setdefault("bar_batch", []).extend(problems)
        return failures
