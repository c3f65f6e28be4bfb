"""Physical-layout assertions: bucketing must remove the join shuffle,
date-partitioning must prune the scan, salting must re-aggregate exactly."""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cocktailsdb_spark.plans import layout  # noqa: E402
from cocktailsdb_spark.session import conf_scope  # noqa: E402
from cocktailsdb_spark.tables import load  # noqa: E402


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    layout.bucketed_join_revenue(spark, sf_dir)  # creates the bucketed tables
    l = spark.table("bucketdemo.lineitem_b")
    o = spark.table("bucketdemo.orders_b")
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = l.join(o, l.l_orderkey == o.o_orderkey)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join should be shuffle-free:\n{plan}"


def test_partition_pruned_scan_reads_fewer_files(spark, sf_dir):
    df = layout.partition_pruned_load(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the partition filter must be recognized as such (not a data filter)
    assert "PartitionFilters: [isnotnull(event_date" in plan
    # and the result equals the plain filter on the source table
    expected = (
        load(spark, sf_dir, "events").filter(F.col("ts") > layout.WM).count()
    )
    assert df.count() == expected


def test_range_sorted_layout_has_disjoint_file_ranges(spark, sf_dir):
    import os

    import pyarrow.parquet as pq

    path = layout.range_sorted_write(spark, sf_dir)
    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        stats = [
            md.row_group(g).column(cols["l_shipdate"]).statistics
            for g in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) >= 2
    # files cover disjoint shipdate ranges → a date predicate can skip
    # whole files on footer statistics alone
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # and the layout preserves every row
    total = pq.read_table(path, columns=["l_orderkey"]).num_rows
    assert total == load(spark, sf_dir, "lineitem").count()


def test_zorder_layout_skips_on_both_columns(spark, sf_dir):
    """Z-ordering must give footer-stats skipping on BOTH interleaved
    columns — the property a single-column sort cannot provide."""
    import os

    import pyarrow.parquet as pq

    path = layout.zorder_write(spark, sf_dir)
    files = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        rng = {}
        for c in ("l_partkey", "l_suppkey"):
            stats = [
                md.row_group(g).column(cols[c]).statistics
                for g in range(md.num_row_groups)
            ]
            rng[c] = (min(s.min for s in stats), max(s.max for s in stats))
        files.append(rng)
    assert len(files) >= 8
    li = load(spark, sf_dir, "lineitem")
    maxes = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    # a quarter-domain band predicate on EACH column must prune files on
    # min/max footer stats alone
    for col, mx in (("l_partkey", maxes[0]), ("l_suppkey", maxes[1])):
        lo, hi = mx // 4, mx // 2  # (25%, 50%] band
        hit = sum(1 for f in files if f[col][0] <= hi and f[col][1] >= lo)
        assert hit <= len(files) * 0.7, f"{col}: {hit}/{len(files)} files hit"
    # and the layout preserves every row
    assert spark.read.parquet(path).count() == li.count()


def test_salted_groupby_equals_direct(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: (r["sum_qty"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(24,8)")).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["sum_qty"], r["n"])
        for r in layout.salted_groupby(spark, sf_dir).collect()
    }
    assert salted == direct


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from cocktailsdb_spark.plans.layout import compact_parquet
    from cocktailsdb_spark.tables import load

    frag = str(tmp_path / "frag")
    load(spark, sf_dir, "events").repartition(40).write.parquet(frag)
    n_small = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    assert n_small == 40

    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, frag, dst)
    assert n_out < n_small  # KB-sized files collapse to ceil(bytes/target)=1
    assert spark.read.parquet(dst).count() == load(spark, sf_dir, "events").count()


def test_layout_cache_invalidated_by_newer_fixture(tmp_path):
    from cocktailsdb_spark.plans.layout import _cache_fresh

    cache = tmp_path / "cache"
    cache.mkdir()
    marker = cache / "_SUCCESS"
    marker.touch()
    src = tmp_path / "events.parquet"
    src.touch()
    # source older than cache -> fresh; newer -> stale
    os.utime(src, (marker.stat().st_mtime - 100, marker.stat().st_mtime - 100))
    assert _cache_fresh(str(cache), str(src))
    os.utime(src, (marker.stat().st_mtime + 100, marker.stat().st_mtime + 100))
    assert not _cache_fresh(str(cache), str(src))


def test_bloom_filtered_join_injects_runtime_filter(spark, sf_dir):
    """Under no-broadcast + lowered application threshold, Spark must
    inject the dim-side Bloom filter into the fact scan — the runtime
    semi-join reduction the 100 TB shape depends on."""
    df = layout.bloom_filtered_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cached result's plan carries the InMemoryRelation of the
    # original bloom-filtered query
    assert "bloomfilter" in plan.lower() or "might_contain" in plan.lower(), plan[:2000]
    row = df.collect()[0]
    assert row["o_orderpriority"] == "1-URGENT" and row["n_lines"] > 0
