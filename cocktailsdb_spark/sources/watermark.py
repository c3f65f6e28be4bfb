"""Batch-incremental watermark protocol — SURVEY.md §2.1 S9/S10, §2.7.

The reference keeps per-source high-water marks in a text file and — bug —
advances them BEFORE the sink write (build_database.py:150-159 vs :250), so
a crash in between loses data. This store fixes the ordering: marks are
written only after the sink succeeds (call ``advance`` last). State lives in
a small parquet control table — the direct analog of last_update.txt:1-3.

The streaming mapping of the same protocol (checkpoint-backed
``withWatermark``) is in cocktailsdb_spark.streaming.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conform import filter_after_watermark, union_by_name
from ..schemas import WATERMARKS

DEFAULT_MARK = dt.datetime(1900, 1, 1)  # reference default '1900-01-01'


class WatermarkStore:
    """Per-source high-water marks in a parquet control table."""

    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> dict[str, dt.datetime]:
        """S9 — marks as a small driver-side dict (the table is O(#sources)).

        ONLY the missing-path (first run) case maps to {}; a corrupt or
        unreadable control table re-raises. Swallowing it would silently
        reset every high-water mark and make the next incremental run
        re-ingest full history into the append sink (duplicate rows)."""
        try:
            rows = spark.read.schema(WATERMARKS).parquet(self.path).collect()
        except AnalysisException as e:
            cond = getattr(e, "getCondition", e.getErrorClass)() or ""
            if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(e):
                return {}  # first run: no control table yet
            raise
        return {r["source"]: r["high_water_mark"] for r in rows}

    def write(self, spark: SparkSession, marks: dict[str, dt.datetime]) -> None:
        """S10 — overwrite the control table. Call ONLY after the sink
        committed (ordering fix per SURVEY.md §3.4)."""
        df = spark.createDataFrame(
            [(k, v) for k, v in sorted(marks.items())], schema=WATERMARKS
        )
        df.coalesce(1).write.mode("overwrite").parquet(self.path)


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
    loaded: dict[str, int] = {}
    new_marks = dict(marks)
    filtered: list[DataFrame] = []
    for name, df in source_dfs.items():
        inc = filter_after_watermark(df, ts_col, marks.get(name, DEFAULT_MARK))
        # A2: new high-water mark = max ts of the incremental slice
        agg = inc.agg(
            F.max(ts_col).alias("mx"), F.count(F.lit(1)).alias("n")
        ).first()
        loaded[name] = agg["n"]
        if agg["mx"] is not None:
            new_marks[name] = agg["mx"]
        filtered.append(inc.withColumn("_source", F.lit(name)))
    union_by_name(filtered).write.mode("append").parquet(sink_path)
    # S10 fix: marks advance only after the sink committed
    store.write(spark, new_marks)
    return loaded
