"""Per-session state the engine's session keeps on purpose: generated
classes are reused across queries (the codegen cache holds a working set
larger than Spark's default 100 entries). Settings changed for one block
go back as they were."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocktailsdb_spark.session import conf_scope


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


def test_conf_scope_restores_set_and_unset_keys(spark):
    """A key set before the scope gets its value back and a key unset
    before is unset again, on a normal exit and when the block raises."""
    unset = "spark.cdbspark.test.scope"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(unset, None) is None
    scoped = {"spark.sql.shuffle.partitions": "5", unset: "on"}
    with conf_scope(spark, scoped):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get(unset) == "on"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError, match="inside"):
        with conf_scope(spark, scoped):
            raise RuntimeError("inside")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get(unset, None) is None
