"""SparkSession factory.

Defaults are tuned for the harness box (local[32], single JVM) but every
knob here is the one you would also set on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparability + cross-cluster determinism),
Arrow for any pandas exchange, and shuffle partitions sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# ORDER BY … LIMIT k with k at or above this plans as a sort, not an
# in-memory top-k (see get_spark).
TOPK_SORT_FALLBACK = 100_000


def get_spark(
    app_name: str = "cocktailsdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (default 32) sizes local parallelism; on a real
    cluster ``master``/dynamic allocation take over and only the sql confs
    below matter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MiB input splits: good default for large parquet scans; at
        # 100 TB this yields ~800k splits, well within driver capacity.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark still defaults timestamp writes to the deprecated INT96
        # encoding, which parquet defines NO sort order for — readers see
        # statistics=None, so every layout trick that relies on footer
        # min/max skipping (range_sorted_write, partitioned sinks) goes
        # blind on timestamp columns. INT64 micros carries real stats and
        # is what every modern writer emits.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Default 8000 makes any stage whose generated method exceeds 8 KB
        # bytecode (e.g. a 64-buffer aggregate like simhash's) fall back to
        # INTERPRETED expression evaluation — measured 2.7× slower than the
        # codegen path on simhash_fingerprint at sf0.1. 65535 restores
        # codegen for wide aggregates; even when HotSpot declines to JIT a
        # huge method, running its bytecode beats Spark's interpreter.
        .config("spark.sql.codegen.hugeMethodLimit", "65535")
        # Generated-class cache (static: read once, when the JVM first
        # generates code). The default 100 entries is smaller than one
        # pass of the benchmark's 8 corpus operators, which compiles ~162
        # distinct classes (pagerank 57, bm25 36, semantic_dedup and
        # embedding_topk_ivf 20 each), so a warm session evicted in a
        # cycle and recompiled all of them (~9-12 ms each) on every pass;
        # at 1000 a steady pass compiles 0. Plans with inlined literals
        # (a bar batch's watermark) add 18 new classes per batch at any
        # size, so a long session fills the cache to its cap. Measured
        # per entry: ~50-60 KB of live heap (source text, bytecode,
        # class loader) plus ~5 KB of metaspace, so a full cache holds
        # ~60 MB — small next to the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # ORDER BY … LIMIT k plans as TakeOrderedAndProject, whose per-task
        # bounded priority queue is sized to k up front: k = 10^9 (a
        # caller's "take everything") killed the driver JVM. At and above
        # this threshold the same query plans as a full Sort under CollectLimit,
        # which spills instead. Every registered top-k cut is far below it
        # (the largest is LIMIT 1000).
        .config("spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set each of ``conf`` on the session for the block. On exit, however
    the block ends, a key set before gets its old value back and a key
    that was unset is unset again."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
