"""Structured Streaming: event-time semantics, the stream twins of batch
operators, and the one runner every streaming entry goes through — it
leaves no temp view, cache entry or scratch directory behind, restores
the session's settings, and is the only place a query starts."""

from __future__ import annotations

import ast
import datetime as dt
import glob
import os
import tempfile
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cocktailsdb_spark.registry import QUERIES
from cocktailsdb_spark.session import conf_scope
from cocktailsdb_spark.streaming import stream_queries
from cocktailsdb_spark.tables import load

STREAM_ENTRIES = sorted(n for n in QUERIES if n.startswith("streaming_"))

# query lifecycle calls that only the runner may make
LIFECYCLE = {"readStream", "writeStream", "start", "processAllAvailable", "stop"}


def test_watermark_drops_late_rows(spark, tmp_path):
    """Event-time watermark semantics = the reference's strict-`>` filter
    (SURVEY.md §2.7): once the watermark passed an hour window, a late row
    for that window is DROPPED, not re-aggregated."""
    src = str(tmp_path / "wm_src")
    name = "wm_" + uuid.uuid4().hex[:8]
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_batch(fname, rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(os.path.join(src, fname))

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)
    write_batch("b1.parquet", [(1, t0, 1, "click", 1.0, "{}")])

    stream = (
        spark.readStream.format("parquet").schema(ddl).option("maxFilesPerTrigger", "1")
        .load(src + "/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past the 10:00 window...
        write_batch("b2.parquet", [(2, t0 + dt.timedelta(hours=5), 1, "click", 1.0, "{}")])
        q.processAllAvailable()
        # ...then a LATE row for the closed 10:00 window arrives
        write_batch("b3.parquet", [(3, t0 + dt.timedelta(minutes=1), 1, "click", 1.0, "{}")])
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r["ws"]: r["n"] for r in spark.table(name).collect()}
    # the 10:00 window was emitted with ONLY the on-time row; the late row
    # never re-opens it (dropped, exactly like the reference's strict >)
    assert out.get(t0) == 1


def test_streaming_postings_upsert_equals_batch_ranker(spark, sf_dir):
    """The stream-maintained postings index must rank identically to the
    in-plan batch ranker over the full corpus — additive index stats make
    the result independent of micro-batch arrival order."""
    from cocktailsdb_spark.operators import retrieval

    got = stream_queries.streaming_postings_upsert(spark, sf_dir).collect()
    want = retrieval.bm25_rank(load(spark, sf_dir, "documents")).collect()
    assert got == want and len(got) == 10


def test_streaming_last_touch_equals_batch(spark, sf_dir):
    """The stateful credit stream's channel rollup must equal the batch
    window form of last-touch attribution on the same events."""
    from cocktailsdb_spark.operators import attribution

    got = stream_queries.streaming_last_touch(spark, sf_dir).collect()
    want = attribution.last_touch(load(spark, sf_dir, "events")).collect()
    assert got == want
    assert sum(r.n_conversions for r in got) > 0


def test_streaming_error_burn_matches_batch(spark, sf_dir):
    from cocktailsdb_spark.operators.events import error_budget_burn
    from cocktailsdb_spark.streaming.stream_queries import streaming_error_burn
    from cocktailsdb_spark.tables import load

    batch = {r.hour: r for r in error_budget_burn(load(spark, sf_dir, "events")).collect()}
    stream = {r.hour: r for r in streaming_error_burn(spark, sf_dir).collect()}
    assert set(batch) == set(stream) and len(batch) > 0
    for h, b in batch.items():
        s = stream[h]
        assert (b.n_events, b.n_errors, b.burn_1h, b.burn_6h) == (
            s.n_events,
            s.n_errors,
            s.burn_1h,
            s.burn_6h,
        )


def _scratch_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "cdbspark_*")))


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _kept_entries() -> set[str]:
    kept = stream_queries._KEPT
    return set(os.listdir(kept[0])) if kept else set()


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_streaming_entry_leaves_no_view_cache_or_scratch(spark, sf_dir, name):
    """A memory-sink result is the sink's own rows: the entry drops the
    sink's temp view, caches nothing and removes its scratch directory,
    and the frame it returns still reads. Only a file sink's output
    stays, in the one kept directory."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    views, dirs = _temp_views(spark), _scratch_dirs()
    assert QUERIES[name](spark, sf_dir).collect()
    assert _temp_views(spark) == views
    assert cache.isEmpty()
    assert _scratch_dirs() - dirs <= set(stream_queries._KEPT)


def _failing_sink(batch, epoch_id, out):
    raise RuntimeError("sink failed")


@pytest.mark.parametrize(
    "build, sink",
    [
        # a JVM-side failure inside a memory-sink query
        (
            lambda source: source().filter(
                F.assert_true(F.col("user_id") < 0, "stream failed").isNull()
            ),
            "append",
        ),
        (stream_queries._whole, _failing_sink),
    ],
    ids=["memory", "foreach_batch"],
)
def test_failed_stream_leaves_nothing_and_restores_settings(spark, sf_dir, build, sink):
    """A stream that fails removes its scratch directory (and a file
    sink's output), drops its view, and puts back the shuffle partitions
    and the state store provider as they were — set and unset."""
    provider = "spark.sql.streaming.stateStore.providerClass"
    assert spark.conf.get(provider, None) is None
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "3"}):
        views, dirs, kept = _temp_views(spark), _scratch_dirs(), _kept_entries()
        with pytest.raises(Exception, match="(stream|sink) failed"):
            stream_queries._run(
                spark, sf_dir, build, sink, conf=stream_queries.ROCKSDB_STATE
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get(provider, None) is None
        assert _temp_views(spark) == views
        assert _scratch_dirs() - dirs <= set(stream_queries._KEPT)
        assert _kept_entries() == kept


def _lifecycle_outside_runner(source: str) -> list[str]:
    """Lines of ``source`` that touch a streaming query's lifecycle
    outside the ``_run`` function."""
    tree = ast.parse(source)
    runner = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_run"
    ]
    inside = {id(n) for r in runner for n in ast.walk(r)}
    return sorted(
        f"line {n.lineno}: .{n.attr}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr in LIFECYCLE and id(n) not in inside
    )


def test_only_the_runner_starts_streams():
    """One mechanism owns start → drain → stop: ``readStream``,
    ``writeStream``, ``.start()``, ``processAllAvailable`` and ``.stop()``
    appear in stream_queries.py only inside ``_run``."""
    path = Path(stream_queries.__file__)
    assert _lifecycle_outside_runner(path.read_text()) == []
    copied = "def entry(df):\n    q = df.writeStream.format('memory').start()\n"
    assert _lifecycle_outside_runner(copied) == ["line 2: .start", "line 2: .writeStream"]
