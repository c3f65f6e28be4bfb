"""Structured Streaming variants of the engine's event operators
(SURVEY.md §2.7): the streaming mappings of the reference's batch-
incremental watermark protocol.

Each entry runs a real ``readStream`` → transform → ``writeStream``
topology to completion over the fixture parquet (file source; memory,
parquet or ``foreachBatch`` sink), so the plans exercised are the ones a
Kafka-backed deployment would run; only the source format differs.
Checkpoints replace last_update.txt.

Lifecycle. An entry is a transform handed to one runner, :func:`_run`,
which owns everything around it:

- a scratch directory for the input files and the checkpoint, removed in
  a ``finally``, so a stream that fails leaves nothing behind either;
- the input. File streams need a directory source, so the events table
  (or the frames an entry supplies) is written there once. Each frame
  lands as its own directory and is read as one micro-batch;
- the session settings, through ``session.conf_scope``: 8 shuffle
  partitions plus the entry's own confs. Stateful operators allocate a
  state store per shuffle partition per operator side, and at fixture
  scale the fixed store setup dominates; on a real cluster the count is
  sized to key cardinality and state volume, not CPU count;
- start → drain → stop for every query, including the sentinel flush and
  the restart below;
- the readout. A memory-sink result is a ``LocalTableScan`` over rows the
  driver already holds, so the runner takes the frame, drops the sink's
  temp view and returns the frame: nothing is cached, no view is left,
  and the rows live exactly as long as the caller's frame. A file sink
  (``parquet``, or a ``foreachBatch`` that writes files) leaves its output
  in one kept directory per process, removed at interpreter exit, and the
  result is read from there.

Determinism. COMPLETE-mode queries emit every window. APPEND-mode queries
with a watermark emit a row only once the watermark passes it, so the
runner feeds them a sentinel batch far in the future, which flushes every
real session and join interval, then filters the sentinel back out. With
the fixture in one micro-batch every entry equals its batch twin exactly
and carries a full DuckDB oracle.
"""

from __future__ import annotations

import atexit
import datetime as dt
import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import SESSION_GAP_SEC
from ..frames import local_frame
from ..numeric import dsum, qround
from ..plans.hints import maybe_broadcast
from ..session import conf_scope
from ..tables import load

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SENTINEL_USER = -1

# The production backend for large state: the default HDFS-backed provider
# keeps every key in executor heap (OOM at big-state scale); RocksDB keeps
# working state on local disk with block-cache reads and supports
# changelog checkpointing. Same API, one conf.
ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}

Source = Callable[[], DataFrame]
FileSink = Callable[[DataFrame, int, str], None]

_KEPT: list[str] = []


def _kept() -> str:
    """A fresh path in the process's one kept directory, which is made on
    first use and removed at interpreter exit."""
    if not _KEPT:
        _KEPT.append(tempfile.mkdtemp(prefix="cdbspark_stream_kept_"))
        atexit.register(shutil.rmtree, _KEPT[0], ignore_errors=True)
    return os.path.join(_KEPT[0], uuid.uuid4().hex)


def _land(src: str, arrival: int, frames: list[DataFrame]) -> int:
    """Write each frame as its own input directory; return the most part
    files any of them holds (the files one micro-batch reads)."""
    most = 1
    for j, frame in enumerate(frames):
        path = os.path.join(src, f"{arrival}-{j}.parquet")
        frame.write.parquet(path)
        most = max(most, len(glob.glob(os.path.join(path, "*.parquet"))))
    return most


def _whole(source: Source) -> DataFrame:
    return source()


def _run(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[Source], DataFrame],
    sink: str | FileSink = "append",
    *,
    inputs: list[list[DataFrame]] | None = None,
    flush: tuple[str, ...] = (),
    conf: dict[str, str] | None = None,
    restart: bool = False,
    read: Callable[[str], DataFrame] | None = None,
) -> DataFrame:
    """Run one entry's stream to completion and return its result.

    ``build`` maps ``source`` (each call opens a new file stream over the
    input directory) to the streaming frame to sink. ``sink`` is an output
    mode of the memory sink, ``"parquet"`` for a file sink, or a
    ``foreachBatch`` function ``(batch, epoch_id, out)`` that leaves its
    output at ``out``. ``read`` (default ``spark.read.parquet``) turns a
    file sink's kept output path into the result.

    ``inputs`` lists the arrivals, each a list of frames; the default is
    the events table as one file. An arrival lands once the stream has
    drained the ones before it; with ``restart`` the query is stopped
    before each later arrival lands and a new one resumes from the
    checkpoint. ``flush`` names the event types of a sentinel arrival
    10 days past the last event."""
    work = tempfile.mkdtemp(prefix="cdbspark_stream_")
    src, ckpt = os.path.join(work, "in"), os.path.join(work, "ckpt")
    name = "stream_" + uuid.uuid4().hex[:8]
    memory = isinstance(sink, str) and sink != "parquet"
    out = None if memory else _kept()
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8", **(conf or {})}):
            if inputs is None or flush:
                events = load(spark, sf_dir, "events")
            arrivals = inputs or [[events.coalesce(1)]]
            if flush:
                far = events.agg(F.max("ts")).first()[0] + dt.timedelta(days=10)
                rows = [
                    (10**9 + i, far, SENTINEL_USER, event_type, 0.0, "{}")
                    for i, event_type in enumerate(flush)
                ]
                arrivals = [*arrivals, [local_frame(spark, rows, EVENTS_DDL).coalesce(1)]]
            per_trigger = _land(src, 0, arrivals[0])

            def source() -> DataFrame:
                return (
                    spark.readStream.schema(arrivals[0][0].schema)
                    .option("maxFilesPerTrigger", str(per_trigger))
                    .parquet(src + "/*")
                )

            def start():
                w = build(source).writeStream.option("checkpointLocation", ckpt)
                if memory:
                    w = w.format("memory").outputMode(sink).queryName(name)
                elif callable(sink):
                    w = w.foreachBatch(lambda batch, epoch_id: sink(batch, epoch_id, out))
                else:
                    w = w.format("parquet").option("path", out)
                return w.start()

            q = start()
            try:
                q.processAllAvailable()
                for i, frames in enumerate(arrivals[1:], start=1):
                    if restart:
                        q.stop()
                    _land(src, i, frames)
                    if restart:
                        q = start()
                    q.processAllAvailable()
            finally:
                q.stop()
        if memory:
            result = spark.table(name)
            return result.filter(F.col("user_id") != SENTINEL_USER) if flush else result
        return (read or spark.read.parquet)(out)
    except BaseException:
        if out:
            shutil.rmtree(out, ignore_errors=True)
        raise
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)


def _tumbling(source: Source) -> DataFrame:
    return (
        source()
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def streaming_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count+sum over a parquet file stream, complete mode.
    Result (a static DataFrame) equals the batch tumbling query exactly."""
    return _run(spark, sf_dir, _tumbling, "complete")


def streaming_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_tumbling_hour's stream on the RocksDB state store —
    bit-identical results (same oracle): the state BACKEND must never
    change query semantics, and this entry pins that. State lives
    off-heap on executor-local disk, which is what makes billion-key
    watermarked aggregations feasible at 100 TB."""
    return _run(spark, sf_dir, _tumbling, "complete", conf=ROCKSDB_STATE)


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window over a file stream in APPEND mode with a
    30-minute watermark — the genuinely stateful streaming operator.

    Batch 1 = the real events; batch 2 = one sentinel event 10 days past
    max(ts), which advances the event-time watermark beyond every real
    session so append mode flushes them all (no-data batches then
    evict/emit the remaining state). Output (sentinel removed) equals the
    batch session computation."""

    def build(source: Source) -> DataFrame:
        return (
            source()
            .withWatermark("ts", "30 minutes")
            .groupBy(
                F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("w"),
                "user_id",
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    return _run(spark, sf_dir, build, flush=("sentinel",))


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on (user_id, event_type)
    over the file stream — state keeps one entry per key; append mode
    emits each key's first arrival. Projected to the key columns the
    output is the deterministic distinct-key set (arrival order decides
    which row wins, so non-key columns are not part of the contract)."""
    return _run(
        spark,
        sf_dir,
        lambda source: source()
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"]),
    )


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on (user_id, event_type): the
    BOUNDED-STATE form of streaming dedup — key state is evicted once the
    event-time watermark passes it, so state size tracks the watermark
    horizon instead of growing with every key ever seen (the difference
    between a dedup stream that runs for years and one that OOMs).
    With the fixture in one batch every duplicate falls inside the
    watermark, so the output is exactly the distinct key set (the oracle)."""
    return _run(
        spark,
        sf_dir,
        lambda source: source()
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type"),
    )


DEDUP_WITHIN_WM_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running event counter whose state (the count so far)
    persists across micro-batches; each batch emits the updated totals for
    the users it touched. With the whole fixture in one batch the emitted
    totals equal the batch group-by — the oracle. This is the
    arbitrary-state API (GroupState + Arrow batches) that covers operators
    session_window/dropDuplicates cannot express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdf_iter, state: GroupState):
        running = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            running += len(pdf)
        state.update((running,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [running]})

    return _run(
        spark,
        sf_dir,
        lambda source: source()
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
    )


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dim (broadcast per micro-batch — the streaming analog of the
    reference's cocktails-dim enrichment), aggregated per market segment.
    Complete mode; equals the batch join exactly."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return _run(
        spark,
        sf_dir,
        lambda source: source()
        .join(
            maybe_broadcast(customer, "customer"),
            F.col("user_id") == F.col("c_custkey"),
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value")).alias("sum_value")),
        "complete",
    )


def _interval_join(source: Source, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases within
    [click_ts, click_ts+30min]; each side is its own file stream with a
    1-hour watermark."""
    clicks = (
        source()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        source()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id"),
        "click_ts", "purchase_ts",
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join with event-time interval bounds: clicks
    joined to the same user's purchases within [click_ts, click_ts+30min].

    Both sides are real file streams with watermarks; the time-range
    predicate is what lets Spark bound the join state (each side's rows
    are dropped once the opposite watermark passes their interval) — the
    canonical funnel/attribution topology. Inner stream-stream joins emit
    matches as they arrive, so the complete output equals the batch
    interval join exactly (the DuckDB oracle)."""
    return _run(spark, sf_dir, lambda source: _interval_join(source, "inner"))


STREAM_INTERVAL_JOIN_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every click emitted, joined
    to same-user purchases in [click_ts, click_ts+30min] — unmatched
    clicks come out with NULL purchase columns.

    This is the shape the inner join cannot express: a row can only be
    declared UNMATCHED once the watermark has passed its whole join
    interval (until then a matching purchase could still arrive), so null
    rows are emitted on WATERMARK EXPIRY, not on arrival. The sentinel
    batch holds one far-future click AND purchase, which advance both
    sides' watermarks past every real interval and force the expiry scan
    that emits the null-padded rows — the session_window flush. The
    output therefore equals the batch LEFT JOIN (the DuckDB oracle); join
    state stays bounded by the watermark horizon either way."""
    return _run(
        spark,
        sf_dir,
        lambda source: _interval_join(source, "left_outer"),
        flush=("click", "purchase"),
    )


STREAM_INTERVAL_JOIN_OUTER_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def streaming_foreach_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE sink: each micro-batch latest-wins-merges into a
    versioned state table — the pattern for maintaining a dimension from a
    stream when the sink must be transactional per batch (foreachBatch is
    where MERGE INTO lives in real deployments; here the merge is the
    engine's own latest_wins over plain parquet versions).

    The input is deliberately split into TWO files (even/odd users) so the
    state genuinely evolves across batches. Because latest-wins is
    commutative/associative over the union of batches, the final state
    equals the batch dedup_latest_wins over all events — the exact oracle —
    regardless of micro-batch order. The final state can be arbitrarily
    large (one row per key), so it never transits the driver: the result
    is a plain distributed read of the last version."""
    from ..operators.dedup import latest_wins

    def merge(batch: DataFrame, epoch_id: int, out: str) -> None:
        state = latest_wins(
            batch.select("user_id", "event_id", "ts", "event_type", "value"),
            ["user_id"],
            ["ts", "event_id"],
        )
        if os.path.exists(out):
            state = latest_wins(
                spark.read.parquet(out).unionByName(state), ["user_id"], ["ts", "event_id"]
            )
        state.write.parquet(out + ".next")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(out + ".next", out)

    ev = load(spark, sf_dir, "events")
    halves = [ev.filter(F.col("user_id") % 2 == r).coalesce(1) for r in (0, 1)]
    return _run(spark, sf_dir, _whole, merge, inputs=[halves])


FOREACH_MERGE_SQL = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def streaming_postings_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous indexing: documents arrive as a file stream in three
    micro-batches; each batch foreachBatch-upserts its postings into the
    AT-REST index (retrieval.postings_index_write for the first batch,
    postings_index_upsert after — appended postings + additive manifest
    stats). BM25's global inputs (n_docs, Σdl, per-term df) are additive
    and commutative over the union of batches, so the final probe equals
    the batch ranker over ALL documents — the exact full-corpus oracle —
    regardless of micro-batch arrival order. This is the retrieval twin
    of streaming_foreach_merge's dimension maintenance: the corpus is
    tokenized exactly once, as it arrives."""
    from ..operators import retrieval
    from ..sources.formats import _read_manifest

    def upsert(batch: DataFrame, epoch_id: int, ix: str) -> None:
        if batch.isEmpty():
            return
        if _read_manifest(ix, "_MANIFEST"):
            retrieval.postings_index_upsert(spark, ix, batch)
        else:
            retrieval.postings_index_write(
                spark, batch, ix, os.path.join(sf_dir, "documents.parquet")
            )

    docs = load(spark, sf_dir, "documents")
    thirds = [docs.filter(F.col("doc_id") % 3 == r).coalesce(1) for r in range(3)]
    return _run(
        spark,
        sf_dir,
        _whole,
        upsert,
        inputs=[thirds],
        read=lambda ix: retrieval.bm25_rank_stored(spark, ix),
    )


def streaming_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window over the event stream: 1-hour windows
    every 30 minutes, complete mode — each event lands in exactly two
    overlapping windows (the streaming twin of the batch
    window_sliding_halfhour, which materializes the same two-window
    expansion explicitly). Fills the one windowing shape §2.7 lacked:
    tumbling, session, and now hopping.

    State cost at scale: windows/event = window/slide = 2; the state
    store holds (2 × distinct windows in the watermark horizon) rows —
    sizing is slide-bound, not event-bound, which is why a 1h/30m hop is
    cheap but a 1h/1s hop is the classic misconfiguration."""
    return _run(
        spark,
        sf_dir,
        lambda source: source()
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n"),
        "complete",
    )


def streaming_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failure-recovery semantics end-to-end: the stream is STOPPED
    mid-input and a NEW query object resumes from the same checkpoint —
    the restarted run must process only the unseen files, and the file
    sink's commit log must yield exactly-once output (no loss, no dupes)
    even though two distinct query incarnations wrote it. The oracle is
    the plain batch aggregate over all events: any dropped or replayed
    micro-batch breaks the hash.

    Mechanics: the fixture is split into three source files; incarnation
    one consumes file 1 and stops; files 2–3 land "while down";
    incarnation two resumes from the checkpoint and drains. This is the
    crash-recovery contract a production pipeline actually relies on —
    checkpoint = source offsets + sink epoch log, not just state."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    f0, f1, f2 = (ev.filter(F.col("event_id") % 3 == i).coalesce(1) for i in range(3))
    sunk = _run(spark, sf_dir, _whole, "parquet", inputs=[[f0], [f1, f2]], restart=True)
    return sunk.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))


def streaming_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch last-touch attribution
    (operators/attribution.py:last_touch): a per-user
    ``applyInPandasWithState`` operator whose state is the latest touch
    channel seen so far; each conversion in a micro-batch emits one
    credit row (conv_id, channel, value), and the registered result is
    the channel rollup of the emitted credit stream — equal to the batch
    window form on the same events.

    Within a micro-batch rows are sorted by (ts, event_id) inside the
    state function (Spark hands the group's rows in arbitrary order);
    the fixture streams as ONE batch so event-time order is total. In a
    real deployment cross-batch event-time ordering needs the source
    ordered by time (the usual log-stream contract) — a late touch
    arriving after a conversion was credited cannot retro-credit it
    (same contract as any online attribution system).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.attribution import (
        ATTR_CONVERSION_TYPE,
        ATTR_NO_TOUCH,
        ATTR_TOUCH_TYPES,
    )

    touch_set = set(ATTR_TOUCH_TYPES)

    def credit(key, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts", "event_id"])
        conv_ids, channels, values = [], [], []
        for r in rows.itertuples():
            if r.event_type in touch_set:
                last = r.event_type
            elif r.event_type == ATTR_CONVERSION_TYPE:
                conv_ids.append(r.event_id)
                channels.append(last if last is not None else ATTR_NO_TOUCH)
                values.append(r.value)
        state.update((last,))
        yield pd.DataFrame(
            {"conv_id": conv_ids, "channel": channels, "value": values}
        )

    credits = _run(
        spark,
        sf_dir,
        lambda source: source()
        .groupBy("user_id")
        .applyInPandasWithState(
            credit,
            outputStructType="conv_id long, channel string, value double",
            stateStructType="last_channel string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
    )
    return (
        credits.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            dsum(F.col("value")).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


def streaming_error_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/events.py:error_budget_burn: the
    hourly (events, errors) counts run as a STATEFUL tumbling aggregate
    over the event file stream (complete mode, 1-hour watermark); the
    multi-window burn readout — a tiny O(#hours) view a foreachBatch
    alert sink would compute per micro-batch — is the SHARED
    events.burn_readout, so this entry reuses the batch oracle verbatim
    (the streaming_last_touch twin convention)."""
    from ..operators import events as ev_ops

    hourly = _run(
        spark,
        sf_dir,
        lambda source: source()
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("int")).alias("n_errors"),
        )
        .select(F.col("w.start").alias("hour"), "n_events", "n_errors"),
        "complete",
    )
    return ev_ops.burn_readout(hourly)


def streaming_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the time-bound ordered funnel
    (operators/events.py:window_funnel_timebound): a per-user
    ``applyInPandasWithState`` state machine holding (anchor time,
    last-step time, level); each micro-batch advances the
    chain-of-first-occurrences — step k counts only when it lands after
    step k−1 and within the 60-minute anchor horizon. The registered
    result is the per-level reach rollup of each user's final level,
    equal to the batch operator (and its DuckDB oracle) on the same
    events.

    Same ordering contract as streaming_last_touch: rows are sorted by
    (ts, event_id) inside the state function; the fixture streams as one
    micro-batch so event-time order is total, and in production the
    log-stream-ordered source carries the guarantee. State is two int64
    nanosecond stamps + a level — constant per user, the smallest
    possible funnel state.

    Scale shape (round 11 — this was the steepest corrected scaling row
    at 6.7×/decade): (a) non-step event types are filtered JVM-side
    BEFORE the state shuffle (they can never advance the machine), so
    the Arrow transfer and Python workers see only funnel-relevant rows;
    (b) the per-user advance is vectorized — one numpy first-hit scan
    per REMAINING level (|steps| array ops) instead of a Python loop
    over every event; (c) past ~200k events the per-event work dwarfs
    state-store setup, so the source lands as one multi-file frame (a
    parallel write AND a parallel scan, all files in ONE trigger) and the
    state stage runs at defaultParallelism; at fixture scale it keeps the
    single file and 8 state stores.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import FUNNEL_STEPS, WF_WINDOW_MIN

    steps = list(FUNNEL_STEPS)
    horizon_ns = WF_WINDOW_MIN * 60 * 1_000_000_000

    events = load(spark, sf_dir, "events")
    par = spark.sparkContext.defaultParallelism
    wide = events.count() > 200_000

    def advance(key, pdf_iter, state: GroupState):
        t1, tk, level = state.get if state.exists else (None, None, 0)
        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["ts", "event_id"])
        ts = rows["ts"].values.astype("datetime64[ns]").astype("int64")
        et = rows["event_type"].values
        if level == 0:
            hit = np.flatnonzero(et == steps[0])
            if hit.size:
                t1 = tk = int(ts[hit[0]])
                level = 1
        while 0 < level < len(steps):
            # first event of the next step type STRICTLY after the last
            # step and within the anchor horizon; rows are ts-sorted, so
            # the first qualifying index is the loop's first qualifying
            # event — identical semantics to the row-at-a-time machine
            hit = np.flatnonzero(
                (et == steps[level]) & (ts > tk) & (ts <= t1 + horizon_ns)
            )
            if hit.size == 0:
                break
            tk = int(ts[hit[0]])
            level += 1
        state.update((t1, tk, level))
        yield pd.DataFrame({"u": [key[0]], "level": [level]})

    levels = _run(
        spark,
        sf_dir,
        lambda source: source()
        .filter(F.col("event_type").isin(steps))
        .groupBy("user_id")
        .applyInPandasWithState(
            advance,
            outputStructType="u long, level int",
            stateStructType="t1 long, tk long, level int",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
        inputs=[[events.repartition(par)]] if wide else None,
        conf={"spark.sql.shuffle.partitions": str(par)} if wide else None,
    )
    # one pass over the final levels counts every level's reach; the
    # levels then unfold into one row each
    reach = levels.groupBy("u").agg(F.max("level").alias("lvl")).agg(
        *(
            F.count(F.when(F.col("lvl") >= k, 1)).alias(f"n{k}")
            for k in range(1, len(steps) + 1)
        )
    )
    per_level = F.explode(
        F.array(
            *(
                F.struct(
                    F.lit(k).cast("int").alias("level"),
                    F.lit(step).alias("step"),
                    F.col(f"n{k}").alias("n_users"),
                )
                for k, step in enumerate(steps, start=1)
            )
        )
    )
    return reach.select(per_level.alias("r"), "n1").select(
        "r.*",
        qround(F.col("r.n_users").cast("double") / F.col("n1").cast("double"), 6).alias(
            "conversion_from_l1"
        ),
    )
