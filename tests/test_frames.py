"""Arrow-built control frames (``frames.local_frame``): naive datetimes are
process-local time, as ``createDataFrame(list)`` reads them, whatever the
session time zone."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_ROUND_TRIP = """
import datetime as dt, os, sys
from cocktailsdb_spark.runlog import RunLog
from cocktailsdb_spark.session import get_spark
from cocktailsdb_spark.sources.watermark import WatermarkStore

work = sys.argv[1]
spark = get_spark("tz-round-trip", master="local[1]", shuffle_partitions=1)
assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
marks = {
    "budapest": dt.datetime(2020, 12, 26, 22, 47, 0, 123456),
    "london": dt.datetime(1900, 1, 1),  # DEFAULT_MARK
    "new york": dt.datetime(2021, 3, 28, 2, 30),
}
store = WatermarkStore(os.path.join(work, "marks"))
store.write(spark, marks)
got = store.read(spark)
assert got == marks, (got, marks)

log = RunLog(os.path.join(work, "run_history"))
with log.stage("sales_data"):
    pass
with log.stage("short_circuit", "no source advanced its watermark"):
    pass
want = [(e[1], e[3], e[4]) for e in log._events]
log.flush(spark)
hist = RunLog.history(spark, os.path.join(work, "run_history")).collect()
got = sorted((r["stage"], r["started_at"], r["finished_at"]) for r in hist)
assert got == sorted(want), (got, want)
print("ROUND TRIP OK")
"""


def test_control_tables_round_trip_under_non_utc_process_tz(tmp_path):
    """In a process whose TZ is Asia/Kolkata (UTC+05:30) and a session
    pinned to UTC, watermark marks and run_history timestamps come back
    bit-exact. Reading naive datetimes as UTC would shift every one of
    them by 5 h 30 min on the way back."""
    env = {
        **os.environ,
        "TZ": "Asia/Kolkata",
        "PYTHONPATH": str(ROOT),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    res = subprocess.run(
        [sys.executable, "-c", _ROUND_TRIP, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "ROUND TRIP OK" in res.stdout
