"""Batch-incremental watermark protocol — SURVEY.md §2.1 S9/S10, §2.7.

The reference keeps per-source high-water marks in a text file and — bug —
advances them BEFORE the sink write (build_database.py:150-159 vs :250), so
a crash in between loses data. This store fixes the ordering: marks are
written only after the sink succeeds (call ``write`` last). State lives in
a small parquet control table — the direct analog of last_update.txt:1-3 —
written from an Arrow-built frame (``frames.local_frame``), so a write
starts no Python worker. Every source's new mark comes from ONE grouped
job over the tagged incremental slice (``advance_marks``), not one job per
source.

The control record is one small table written in ONE write after the
sinks: a row per source (its mark) plus one ``_batch`` row holding the
rows landed so far (the next surrogate key) and the fingerprint of the
dimension input the stored dimension was built from. A table written
before those were kept reads with both as None.

The streaming mapping of the same protocol is
``streaming_restart_exactly_once`` in cocktailsdb_spark.streaming: a file
stream whose checkpoint (source offsets plus the sink's commit log) takes
the place of the marks, stopped mid-input and resumed so that each file
lands exactly once.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conform import filter_after_watermark, union_by_name
from ..frames import local_frame
from ..schemas import WATERMARKS

DEFAULT_MARK = dt.datetime(1900, 1, 1)  # reference default '1900-01-01'
BATCH_ROW = "_batch"  # the record's batch row, keyed like a source


class ControlTableError(RuntimeError):
    """The control table's directory exists but holds no committed data."""


class ControlRecord(dict):
    """The committed record: per-source high-water marks (the dict itself,
    so a record compares equal to its marks), ``landed`` — rows landed so
    far — and ``fingerprint`` — the dimension input's identity. Either is
    None when the record did not keep it."""

    def __init__(self, marks=(), landed: int | None = None, fingerprint: str | None = None):
        super().__init__(marks)
        self.landed = landed
        self.fingerprint = fingerprint


class WatermarkStore:
    """Per-source high-water marks, and the batch row, in a parquet
    control table."""

    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> ControlRecord:
        """S9 — the record as a small driver-side dict (the table is
        O(#sources)).

        ONLY a missing path (first run) maps to an empty record. A
        directory with no committed data file — what a failed overwrite
        leaves — raises ``ControlTableError``, and an unreadable table
        re-raises: either way, reading it as a first run would silently
        reset every high-water mark and make the next incremental run
        re-ingest full history into the append sink (duplicate rows)."""
        try:
            df = spark.read.schema(WATERMARKS).parquet(self.path)
            committed = df.inputFiles()
        except AnalysisException as e:
            cond = getattr(e, "getCondition", e.getErrorClass)() or ""
            if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(e):
                return ControlRecord()  # first run: no control table yet
            raise
        if not committed:
            raise ControlTableError(
                f"control table {self.path} holds no committed parquet data "
                "(a failed write?); restore it or remove the directory to reload"
            )
        record = ControlRecord()
        for r in df.collect():
            if r["source"] == BATCH_ROW:
                record.landed, record.fingerprint = r["landed"], r["fingerprint"]
            else:
                record[r["source"]] = r["high_water_mark"]
        return record

    def write(
        self,
        spark: SparkSession,
        marks: dict[str, dt.datetime],
        landed: int | None = None,
        fingerprint: str | None = None,
    ) -> None:
        """S10 — overwrite the control table with the marks and, when
        given, the batch row, in one write. Call ONLY after the sink
        committed (ordering fix per SURVEY.md §3.4). Naive marks are
        process-local time, as ``read`` returns them."""
        rows = [(s, m, None, None) for s, m in sorted(marks.items())]
        if landed is not None or fingerprint is not None:
            rows.append((BATCH_ROW, None, landed, fingerprint))
        df = local_frame(spark, rows, WATERMARKS)
        df.coalesce(1).write.mode("overwrite").parquet(self.path)


def advance_marks(
    inc: DataFrame, source_col: str, ts_col: str, marks: dict[str, dt.datetime]
) -> tuple[dict[str, dt.datetime], dict[str, int]]:
    """A2 for every source in ONE grouped job over an incremental slice
    tagged with ``source_col``: ``marks`` moved to each source's max
    ``ts_col``, and the rows the slice holds per source. A source that
    admitted no rows keeps its mark and is absent from the counts."""
    rows = (
        inc.groupBy(source_col)
        .agg(F.max(ts_col).alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    moved = {r[source_col]: r["mx"] for r in rows if r["mx"] is not None}
    return {**marks, **moved}, {r[source_col]: r["n"] for r in rows}


def incremental_load(
    spark: SparkSession,
    source_dfs: dict[str, DataFrame],
    ts_col: str,
    sink_path: str,
    store: WatermarkStore,
) -> dict[str, int]:
    """One watermarked incremental run:
    read marks → strict-`>` filter per source (P9) → append sink →
    advance marks (A2 max per source), in THAT order. Returns rows loaded
    per source. Re-running with unchanged inputs loads 0 rows (checked by
    the ``incremental_idempotence`` registry entry)."""
    marks = store.read(spark)
    tagged = union_by_name([
        filter_after_watermark(df, ts_col, marks.get(name, DEFAULT_MARK))
        .withColumn("_source", F.lit(name))
        for name, df in source_dfs.items()
    ]).persist()  # read by the marks job and the sink: scan the sources once
    try:
        new_marks, counts = advance_marks(tagged, "_source", ts_col, marks)
        tagged.write.mode("append").parquet(sink_path)
    finally:
        tagged.unpersist()
    # S10 fix: marks advance only after the sink committed
    store.write(spark, new_marks)
    return {name: counts.get(name, 0) for name in source_dfs}
