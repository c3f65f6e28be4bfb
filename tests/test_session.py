"""Per-session state the engine's session keeps on purpose: generated
classes are reused across queries (the codegen cache holds a working set
larger than Spark's default 100 entries)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_codegen_cache_holds_a_working_set_over_the_default(spark):
    """Run a batch of queries that compiles more distinct classes than
    Spark's default cache holds, then run the same batch again: the
    second run must compile nothing. With the 100-entry default the
    cache evicts in a cycle and the second run recompiles every class."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    base = spark.range(3)
    # each distinct inlined literal gives distinct generated source, so
    # every query compiles its own classes; the offset keeps them apart
    # from any class an earlier test compiled
    batch = [
        base.select((F.col("id") * (7_919_003 + i)).alias("x")) for i in range(120)
    ]

    def run() -> int:
        c0 = metric.getCount()
        for df in batch:
            df.collect()
        return metric.getCount() - c0

    assert run() > 100
    assert run() == 0
