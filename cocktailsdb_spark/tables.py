"""Fixture-table access (TESTDATA.md star schema).

One parquet per table; scans are plain ``spark.read.parquet`` so Catalyst
gets full pushdown/pruning. The only state kept here is each file's
parquet schema, memoized per session and file identity (see
``_read_parquet``) so a repeated load starts no schema-inference job.
DataFrames and results are never cached here — callers decide.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Raw (pre-normalization) parquet schema per (application id, file
# identity). Inferring a schema starts one Spark job that reads a footer;
# passing the memoized schema back starts none. The key changes whenever
# the session or any byte-count/mtime of the file(s) changes, so a
# re-encoded fixture is inferred again. Only schemas live here, never a
# DataFrame or a result.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _file_identity(path: str) -> tuple | None:
    """(real path, mtime_ns, size) of a parquet file; for a directory of
    part files, the real path plus the sorted (name, mtime_ns, size) of
    every file under it. None when the path cannot be stat'ed locally
    (a remote URI, or a file that vanished mid-walk): no memo then."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
        if not stat.S_ISDIR(st.st_mode):
            return (real, st.st_mtime_ns, st.st_size)
        parts = []
        for root, _, files in os.walk(real):
            for f in files:
                full = os.path.join(root, f)
                fst = os.stat(full)
                parts.append((os.path.relpath(full, real), fst.st_mtime_ns, fst.st_size))
    except OSError:
        return None
    return (real, tuple(sorted(parts)))


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, T.StructType]:
    """``spark.read.parquet(path)`` and its raw schema, inferring the
    schema only on the first read of this file identity in this session."""
    ident = _file_identity(path)
    key = ident and (spark.sparkContext.applicationId, ident)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    if key:
        _SCHEMAS[key] = df.schema
    return df, df.schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    # Pin UTC even when the caller (e.g. the verify driver) built the
    # session with defaults — naive parquet timestamps must agree with the
    # DuckDB oracle regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Timestamp sinks must carry footer min/max stats (INT96, Spark's
    # default, has no parquet sort order → statistics=None → no file
    # skipping). Pinning here, not just in session.py, keeps layouts
    # written under a plain driver session valid for stat-dependent
    # readers — the /tmp layout cache is shared across sessions.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects; read
    # the raw int64 nanos and convert exactly (integer div — ns values
    # exceed 2^53, double math would corrupt them).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # The fixtures' at-rest encoding is not ours to control: µs-no-timezone
    # parquet reads back as TIMESTAMP_NTZ in Spark 4, which rejects numeric
    # casts and serializes without a zone offset. Normalize every NTZ column
    # to TimestampType once at the scan (session tz is pinned UTC above, so
    # the instant is unambiguous) — SURVEY §1.3 maps timestamp → TimestampType.
    # (the raw schema: events' nanos `ts` is a LongType there, which no
    # branch below matches)
    for field in schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        # DECIMAL-encoded measures (a plausible future fixture
        # regeneration) read back as DecimalType; SURVEY §1.3 maps every
        # measure to double, and the DuckDB bridge floats decimals too, so
        # normalizing here keeps Spark results cell-identical with the
        # oracle.
        elif isinstance(field.dataType, T.DecimalType):
            df = df.withColumn(field.name, F.col(field.name).cast("double"))
        # DATE32/DATE64-encoded date columns: SURVEY §1.3 maps them to
        # TimestampType (midnight UTC). This also matches the comparator
        # bridge — DuckDB's pandas conversion widens DATE to midnight
        # datetime64, while a Spark DateType would surface as datetime.date
        # and hash-mismatch even though the engines agree.
        elif isinstance(field.dataType, T.DateType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned input up to the cluster's default
    parallelism. Data-amplifying operators (shingle/token explodes,
    per-row hashing) otherwise serialize on however few splits the scan
    produced — a single small parquet file becomes ONE task doing 100× its
    input volume. At real scale (thousands of input splits ≥ cores) the
    guard makes this a no-op, so no gratuitous shuffle is added.

    The guard compares PLANNED splits to the full target, not target/2:
    planned byte-range splits of one large parquet file are only usable at
    row-group boundaries, so a single-row-group file planned as 16 splits
    still executes as ONE non-empty task — measured in round 10, a 200×
    explode behind such a scan ran ~14× slower than the same volume behind
    a repartitioned scan (scaling_r10_s3.json, permutation_test_price).
    Repartitioning whenever planned < defaultParallelism costs a shuffle
    of the UN-amplified input only when cores would otherwise idle, and
    buys even distribution of the amplified work.

    A single-FILE scan is repartitioned even when its planned split
    count reaches the target: e.g. 32 byte-range splits of one
    single-row-group file report getNumPartitions() == 32 yet still
    execute as ONE non-empty task (exactly the round-10 pathology, just
    past the count guard), so the planned count proves nothing there.
    Row-group layout isn't visible through the DataFrame API, so one
    file gets the one-shuffle insurance unconditionally; multi-file
    inputs (what any real table at scale looks like) keep the pure
    count guard and stay shuffle-free."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # Cheap check first: inputFiles() only walks the analyzed plan to the
    # file index (already cached per session), while df.rdd materializes
    # the RDD lineage through py4j — measured at 0.2-0.4s of driver time
    # per call in round 14. A single-file scan is repartitioned
    # unconditionally anyway (see above), so the common case never pays
    # the RDD round-trip.
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — in-memory/foreign frames: no files
        files = None
    if files is not None and len(files) == 1:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
