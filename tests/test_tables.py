"""tables.load() normalization: the driver owns the fixture parquet and has
shipped `ts` under different physical encodings across rounds (TIMESTAMP
NANOS, then µs TIMESTAMP_NTZ). load() must present TimestampType under the
pinned UTC session regardless of the at-rest type — round 3 lost its bench
and three operators to exactly this drift."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cocktailsdb_spark.tables import load

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def fake_sf(spark):
    """A scratch sf_dir holding an `events` table written as TIMESTAMP_NTZ
    (what a µs-no-timezone parquet reads back as in Spark 4)."""
    work = tempfile.mkdtemp(prefix="cdbspark_tables_")
    rows = [
        (1, dt.datetime(2024, 3, 1, 12, 30, 45, 123456), 7, "click", 1.5),
        (2, dt.datetime(2024, 3, 2, 0, 0, 1, 0), 8, "view", 2.0),
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(work, "events.parquet")
    )
    yield work
    shutil.rmtree(work, ignore_errors=True)


def test_load_normalizes_ntz_to_timestamp(spark, fake_sf):
    df = load(spark, fake_sf, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # the instant is preserved exactly (µs precision), interpreted as UTC
    got = {r["event_id"]: r["ts"] for r in df.collect()}
    assert got[1] == dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    # numeric casts (sessionize's epoch math) are legal again
    secs = df.select(F.col("ts").cast("double").alias("s")).collect()
    assert all(r["s"] is not None for r in secs)


_ENCODINGS = ("nanos", "us_ntz", "us_ltz")
# instants chosen to stress the conversions: µs precision, midnight
# boundary, pre-1970 (negative epoch), and a far-future value
_TS_CASES = [
    dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
    dt.datetime(2024, 3, 2, 0, 0, 1, 0),
    dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    dt.datetime(2200, 1, 1, 6, 7, 8, 910111),
]


@pytest.mark.parametrize("encoding", _ENCODINGS)
def test_load_normalizes_every_shipped_encoding(spark, encoding):
    """The driver has shipped `ts` as TIMESTAMP(NANOS) (read as long under
    the nanosAsLong shim), µs TIMESTAMP_NTZ, and µs adjusted-to-UTC across
    rounds. Whatever arrives, load() must present TimestampType with the
    exact same instants under the pinned UTC session — so the next silent
    fixture regeneration is a no-op."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    if encoding == "nanos":
        ts_type = pa.timestamp("ns")
    elif encoding == "us_ntz":
        ts_type = pa.timestamp("us")
    else:
        ts_type = pa.timestamp("us", tz="UTC")
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, len(_TS_CASES) + 1), pa.int64()),
            "ts": pa.array(pd.Series(_TS_CASES), ts_type),
            "user_id": pa.array([7] * len(_TS_CASES), pa.int64()),
            "event_type": pa.array(["click"] * len(_TS_CASES)),
            "value": pa.array([1.5] * len(_TS_CASES), pa.float64()),
        }
    )
    work = tempfile.mkdtemp(prefix=f"cdbspark_enc_{encoding}_")
    try:
        pdir = os.path.join(work, "events.parquet")
        os.makedirs(pdir)
        pq.write_table(tbl, os.path.join(pdir, "part-0.parquet"))
        df = load(spark, work, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        got = {r["event_id"]: r["ts"] for r in df.collect()}
        assert got == {i + 1: ts for i, ts in enumerate(_TS_CASES)}
        # numeric casts (sessionize's epoch math) stay legal
        assert df.select(F.col("ts").cast("double")).first()[0] is not None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_load_real_fixture_ts_is_timestamp(spark, sf_dir):
    # whatever encoding the driver shipped this round, the contract holds
    df = load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.limit(1).select("ts").first()["ts"] is not None


_ALT_SPECS = [
    ("date32", "orders", "o_orderdate", ["o_orderkey"]),
    ("date64", "lineitem", "l_shipdate", ["l_orderkey", "l_linenumber"]),
    ("decimal", "lineitem", "l_extendedprice", ["l_orderkey", "l_linenumber"]),
    ("decimal", "customer", "c_acctbal", ["c_custkey"]),
]


@pytest.mark.parametrize("kind,table,col,key", _ALT_SPECS)
def test_load_normalizes_date_and_decimal_encodings(spark, sf_dir, kind, table, col, key):
    """DATE32/DATE64 and DECIMAL physical encodings (the remaining
    plausible fixture regenerations after the ts churn) must read back as
    the SURVEY §1.3 logical schema — TimestampType midnight for dates,
    double for measures — with exactly the source values. The full-suite
    proof is tools/make_alt_encoding.py + tools/selfcheck.py (216/216
    green, round 6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.make_alt_encoding import RECODE, recode_table

    src = f"{sf_dir}/{table}.parquet"
    # key on the table's REAL key columns — monotonically_increasing_id
    # depends on partition layout, which differs between the original
    # fixture and the pyarrow-rewritten copy
    baseline = {
        tuple(r[k] for k in key): r[col]
        for r in load(spark, sf_dir, table).select(*key, col).collect()
    }
    work = tempfile.mkdtemp(prefix=f"cdbspark_alt_{kind}_")
    try:
        tbl = pq.read_table(src)
        spec = {col: RECODE[table][col]}
        if kind == "date32":
            spec = {col: pa.date32()}
        elif kind == "date64":
            spec = {col: pa.date64()}
        pdir = os.path.join(work, f"{table}.parquet")
        pq.write_table(recode_table(tbl, spec), pdir)
        df = load(spark, work, table)
        dtype = df.schema[col].dataType
        if kind in ("date32", "date64"):
            assert isinstance(dtype, T.TimestampType), dtype
        else:
            assert isinstance(dtype, T.DoubleType), dtype
        got = {
            tuple(r[k] for k in key): r[col]
            for r in df.select(*key, col).collect()
        }
        assert got == baseline
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_spread_repartitions_below_full_parallelism(spark):
    """Round-10 regression: spread()'s old `< target//2` guard let a
    16-planned-split scan of a single-row-group parquet file through on a
    32-core box — all rows execute in ONE task (byte-range splits of one
    file are empty past the first row-group boundary), so a 200x explode
    behind it ran ~14x slow. The guard must repartition whenever planned
    partitions < defaultParallelism."""
    from cocktailsdb_spark.tables import spread

    target = spark.sparkContext.defaultParallelism
    if target < 3:
        pytest.skip("needs parallelism >= 3 to distinguish the guard")
    under = spark.range(1000).repartition(target - 1)
    assert spread(under).rdd.getNumPartitions() == target
    # plan identity, not just a partition count: repartition(target) from
    # target partitions also yields target partitions, so a count assert
    # passes whether or not spread() short-circuits (ADVICE r10)
    at = spark.range(1000).repartition(target)
    assert spread(at) is at  # no-op: same DataFrame, no shuffle added


def test_spread_repartitions_single_file_scan(spark, tmp_path):
    """ADVICE r10: a single parquet FILE planned as >= target byte-range
    splits still executes as ONE non-empty task when it has one row
    group — the planned count passes the guard while the pathology it
    documents survives. spread() must repartition any single-file scan
    regardless of its planned split count."""
    from cocktailsdb_spark.tables import spread

    p = str(tmp_path / "one.parquet")
    spark.range(100_000).coalesce(1).write.mode("overwrite").parquet(p)
    # shrink the split size so the ONE file plans >= target byte-range
    # splits — otherwise planned=1 trips the pre-existing count guard
    # first and this test would stay green with the single-file branch
    # deleted (ADVICE-style vacuous coverage)
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        df = spark.read.parquet(p)
        target = spark.sparkContext.defaultParallelism
        assert len(df.inputFiles()) == 1
        assert df.rdd.getNumPartitions() >= target  # count guard passes
        out = spread(df)
        assert out is not df  # single-file branch fired anyway
        assert out.rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _write_events_nanos(path: str, n: int, extra_col: bool = False) -> None:
    """events as TIMESTAMP(NANOS), the encoding that needs load()'s
    nanos→micros shim on top of the memoized (LongType `ts`) schema."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(pd.Series(_TS_CASES * n)[:n], pa.timestamp("ns")),
        "user_id": pa.array([7] * n, pa.int64()),
    }
    if extra_col:
        cols["value"] = pa.array([1.5] * n, pa.float64())
    pq.write_table(pa.table(cols), path)


def test_load_second_call_starts_no_job_and_keeps_schema(spark, tmp_path):
    """The parquet schema is inferred once per file identity per session:
    the first load of a table starts the inference job, a repeat load of
    the same unchanged file(s) starts none and yields the same normalized
    schema and values — for a single file (events, nanos `ts`) and for a
    directory of part files (orders, a DATE column)."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    _write_events_nanos(str(tmp_path / "events.parquet"), 6)
    odir = tmp_path / "orders.parquet"
    odir.mkdir()
    for part in range(2):
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([part * 10 + 1, part * 10 + 2], pa.int64()),
                    "o_orderdate": pa.array(
                        [_dt.date(2024, 1, 1 + part)] * 2, pa.date32()
                    ),
                }
            ),
            str(odir / f"part-{part}.parquet"),
        )
    for name in ("events", "orders"):
        j0 = _next_job(spark)
        first = load(spark, str(tmp_path), name)
        j1 = _next_job(spark)
        second = load(spark, str(tmp_path), name)
        j2 = _next_job(spark)
        assert j1 > j0, f"{name}: the first load must infer the schema"
        assert j2 == j1, f"{name}: a repeat load started {j2 - j1} job(s)"
        assert second.schema == first.schema
        assert sorted(second.collect()) == sorted(first.collect())
    assert isinstance(second.schema["o_orderdate"].dataType, T.TimestampType)


def test_load_reinfers_schema_after_rewrite(spark, tmp_path):
    """A rewritten file (new size/mtime) is a new identity: load() infers
    again and sees the new schema, in a single file or in one part file
    of a directory."""
    path = str(tmp_path / "events.parquet")
    _write_events_nanos(path, 4)
    before = load(spark, str(tmp_path), "events")
    assert "value" not in before.columns
    _write_events_nanos(path, 4, extra_col=True)
    j0 = _next_job(spark)
    after = load(spark, str(tmp_path), "events")
    assert _next_job(spark) > j0
    assert "value" in after.columns
    assert isinstance(after.schema["ts"].dataType, T.TimestampType)
    assert after.count() == 4

    ddir = tmp_path / "dir"
    pdir = ddir / "events.parquet"
    pdir.mkdir(parents=True)
    _write_events_nanos(str(pdir / "part-0.parquet"), 4)
    _write_events_nanos(str(pdir / "part-1.parquet"), 4)
    assert "value" not in load(spark, str(ddir), "events").columns
    _write_events_nanos(str(pdir / "part-1.parquet"), 4, extra_col=True)
    os.remove(pdir / "part-0.parquet")
    j0 = _next_job(spark)
    assert "value" in load(spark, str(ddir), "events").columns
    assert _next_job(spark) > j0
