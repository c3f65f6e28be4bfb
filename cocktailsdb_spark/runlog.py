"""Run-history logging — the engine analog of the reference's dual-sink
logging + log file (build_database.py:9-25, logs/drinks_db.log:1-14).

Two sinks, same as the reference: the standard :mod:`logging` stream (for
operators/humans) and a durable ``run_history`` parquet control table (for
the pipeline itself — the queryable replacement for grepping a log file).
Events are buffered in memory per run and appended in ONE small write when
the run closes, so logging never adds per-stage Spark jobs; a failed stage
still flushes what happened (status='error' + the exception class), which
is exactly the forensic record the reference's log provides after a crash.
The flush builds its frame on the Arrow path (``frames.local_frame``), so
it starts no Python worker; stage times are naive UTC wall-clock values,
stored as process-local time like any naive datetime Spark is given.
"""

from __future__ import annotations

import datetime as dt
import logging
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from .frames import local_frame

log = logging.getLogger("cocktailsdb_spark")

RUN_HISTORY_SCHEMA = (
    "run_id string, stage string, seq int, started_at timestamp, "
    "finished_at timestamp, status string, detail string"
)


class RunLog:
    """Per-run stage logger backed by a parquet run_history table."""

    def __init__(self, path: str):
        self.path = path
        self.run_id = uuid.uuid4().hex[:12]
        self._events: list[tuple] = []

    @contextmanager
    def stage(self, name: str, detail: str = ""):
        """Record one pipeline stage: wall-clock span + ok/error status.
        Exceptions propagate after being recorded."""
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        log.info("run %s stage %s started", self.run_id, name)
        try:
            yield
        except Exception as e:
            self._events.append(
                (self.run_id, name, len(self._events), started,
                 dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                 "error", f"{type(e).__name__}: {e}"[:500])
            )
            log.error("run %s stage %s failed: %s", self.run_id, name, e)
            raise
        self._events.append(
            (self.run_id, name, len(self._events), started,
             dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
             "ok", detail)
        )
        log.info("run %s stage %s ok", self.run_id, name)

    def flush(self, spark: SparkSession) -> None:
        """Append this run's events to the run_history table (one small
        single-file write — the control-table pattern of watermark.py)."""
        if not self._events:
            return
        df = local_frame(spark, self._events, RUN_HISTORY_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)
        self._events = []

    @staticmethod
    def history(spark: SparkSession, path: str) -> DataFrame:
        return spark.read.schema(RUN_HISTORY_SCHEMA).parquet(path)
