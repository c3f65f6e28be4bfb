"""End-to-end reference-parity pipeline (SURVEY.md §3.1-§3.4) on Family-B
fixtures: full load, PoC semantics, incremental idempotence, strict-`>`
watermark, §3.4 ordering fix."""

from __future__ import annotations

import gzip
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cocktailsdb_spark.plans import bar_pipeline
from cocktailsdb_spark.sources.http_source import fake_transport
from cocktailsdb_spark.sources.watermark import WatermarkStore


@pytest.fixture(scope="module")
def built(spark, bar_fixtures, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bar_db"))
    poc = bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        bar_fixtures["budapest"],
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    return base, poc


def test_full_load_counts(spark, built):
    base, _ = built
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    assert sales.count() == 20 + 15 + 11  # budapest + london + ny(+pinned)
    stock = spark.read.parquet(os.path.join(base, "bar_stock"))
    assert stock.count() == 15
    # P4: '34 glasses' cleaned to 34
    assert stock.filter((stock.bar == "new york") & (stock.glassType == "highball glass")).first()["stock"] == 34


def test_conformed_lowercase_and_types(spark, built):
    base, _ = built
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    assert dict(sales.dtypes)["price"] == "double"
    mixed = sales.filter(F.col("drink") != F.lower("drink")).count()
    assert mixed == 0  # P7 applied
    assert set(r["bar"] for r in sales.select("bar").distinct().collect()) == {
        "budapest",
        "london",
        "new york",
    }


def test_poc_semantics(built):
    _, poc = built
    assert set(poc.columns) == {
        "dayOfSale", "drink", "price", "bar", "strGlass", "drinkCount", "stock", "comment",
    }
    rows = poc.collect()
    assert rows
    for r in rows:
        if r["stock"] is None:
            assert r["comment"] is None  # null-guarded CASE (poc_tables.sql:26-29)
        elif r["drinkCount"] < r["stock"]:
            assert r["comment"] == "NO ISSUE"
        else:
            assert r["comment"] == "POTENTIAL ISSUE"


def test_run_history_records_stages(spark, built):
    """Run logging (reference build_database.py:9-25 / logs/drinks_db.log):
    every pipeline stage lands in the run_history control table with ok
    status and a consistent run_id."""
    from cocktailsdb_spark.runlog import RunLog

    base, _ = built
    hist = RunLog.history(spark, os.path.join(base, "run_history"))
    rows = hist.collect()
    assert rows
    runs = {}
    for r in rows:
        runs.setdefault(r["run_id"], []).append(r)
    full_runs = [
        sorted(v, key=lambda r: r["seq"])
        for v in runs.values()
        if len(v) >= 5  # a full (non-short-circuit) build
    ]
    assert full_runs
    stages = [r["stage"] for r in full_runs[0]]
    assert stages == ["sales_data", "bar_data", "cocktail_dim", "sinks", "poc_ctas"]
    assert all(r["status"] == "ok" for r in full_runs[0])
    assert all(r["finished_at"] >= r["started_at"] for r in full_runs[0])


def test_poc_ctas_registered_in_catalog(spark, built):
    """S8 — poc_analysis is a real catalog table (CTAS + overwrite), and
    the returned DataFrame IS that table."""
    base, poc = built
    db = bar_pipeline.bar_db_name(base)
    for t in ("global_sales", "bar_stock", "cocktails", "poc_analysis"):
        assert spark.catalog.tableExists(f"{db}.{t}"), t
    tbl = spark.table(f"{db}.poc_analysis")
    assert sorted(tbl.columns) == sorted(poc.columns)
    assert tbl.count() == poc.count()


def test_query_cocktail_data_caps_key_collect(spark):
    """A silently-grown drink dimension must raise the named bounded_keys
    error instead of collecting an unbounded key list to the driver."""
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from cocktailsdb_spark.sources.http_source import MAX_DRIVER_KEYS

    big = spark.range(MAX_DRIVER_KEYS + 1).select(
        _F.concat(_F.lit("drink_"), _F.col("id").cast("string")).alias("drink")
    )
    with _pytest.raises(ValueError, match="fetch_distributed"):
        bar_pipeline.query_cocktail_data(spark, big, transport=fake_transport)


def test_cocktails_latest_wins(spark, built):
    base, _ = built
    cocktails = spark.read.parquet(os.path.join(base, "cocktails"))
    # fake transport emits 2 records per key; latest-wins keeps the newer
    assert cocktails.filter(F.col("dateModified") != "2021-01-02 10:00:00").count() == 0
    assert cocktails.groupBy("idDrink").count().filter("count > 1").count() == 0


def test_incremental_rerun_loads_zero(spark, built, bar_fixtures):
    base, _ = built
    before = spark.read.parquet(os.path.join(base, "global_sales")).count()
    bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        bar_fixtures["budapest"],
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    after = spark.read.parquet(os.path.join(base, "global_sales")).count()
    assert after == before  # strict-> watermark: unchanged inputs load 0 rows


def test_strict_gt_watermark_new_rows_only(spark, built, bar_fixtures, tmp_path):
    """A third run with ONE new row (plus a duplicate of the max-ts row,
    which sits exactly AT the mark and must be excluded) loads exactly 1."""
    base, _ = built
    store = WatermarkStore(os.path.join(base, "last_update"))
    marks = store.read(spark)
    assert "budapest" in marks

    newer = tmp_path / "budapest2.csv.gz"
    max_iso = marks["budapest"].strftime("%Y-%m-%d %H:%M:%S")
    with gzip.open(newer, "wt") as f:
        f.write(",TS,ital,költség\n")
        f.write(f"0,{max_iso},Mojito,3.5\n")  # AT the mark → excluded
        f.write("1,2020-12-27 09:00:00,Spritz,6.0\n")  # after → loaded
    before = spark.read.parquet(os.path.join(base, "global_sales")).count()
    bar_pipeline.build_database(
        spark,
        base,
        bar_fixtures["bar_data"],
        str(newer),
        bar_fixtures["london"],
        bar_fixtures["ny"],
        transport=fake_transport,
    )
    after = spark.read.parquet(os.path.join(base, "global_sales")).count()
    assert after == before + 1
    assert store.read(spark)["budapest"].strftime("%Y-%m-%d %H:%M:%S") == "2020-12-27 09:00:00"
    # dim maintenance: the incremental slice only contained 'spritz', but
    # the cocktails dim keeps earlier drinks (latest-wins MERGE, not a
    # wipe-and-replace from the slice)
    cocktails = spark.read.parquet(os.path.join(base, "cocktails"))
    kept = {r["strDrink"] for r in cocktails.select("strDrink").collect()}
    assert "mojito" in kept and "spritz" in kept
    assert cocktails.groupBy("idDrink").count().filter("count > 1").count() == 0


# --- one pinned slice per batch: release, landing, job counts --------------


def _sales_dirs(bar_fixtures, root) -> dict[str, str]:
    """Each sales source as a directory holding its fixture file, so that a
    later batch lands as one more file there."""
    dirs = {}
    for key in ("budapest", "london", "ny"):
        d = root / key
        d.mkdir()
        shutil.copy(bar_fixtures[key], d / "part-0.csv.gz")
        dirs[key] = str(d)
    return dirs


def _add_batch(dirs: dict[str, str], day: int) -> int:
    """One more file per source, every row after the fixtures' marks;
    returns the number of rows added."""
    with gzip.open(os.path.join(dirs["budapest"], f"part-{day}.csv.gz"), "wt") as f:
        f.write(",TS,ital,költség\n")
        f.write(f"0,2021-01-{day:02d} 10:00:00,Mojito,3.5\n1,2021-01-{day:02d} 10:05:00,Spritz,6.0\n")
    with gzip.open(os.path.join(dirs["london"], f"part-{day}.csv.gz"), "wt") as f:
        f.write(f"0\t2021-01-{day:02d} 11:00:00\tNegroni\t4.0\n")
    with gzip.open(os.path.join(dirs["ny"], f"part-{day}.csv.gz"), "wt") as f:
        f.write(",time,drink,amount\n")
        f.write(f"0,01-{day:02d}-2021 12:00,Paradise,5.0\n1,01-{day:02d}-2021 12:05,Daiquiri,5.5\n")
    return 5


def _build(spark, base, bar_data, dirs):
    return bar_pipeline.build_database(
        spark, base, bar_data, dirs["budapest"], dirs["london"], dirs["ny"],
        transport=fake_transport,
    )


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_sales_slice_released_on_every_path(spark, bar_fixtures, tmp_path):
    """The pinned sales slice leaves Spark's cache after a batch, after a
    no-op (short-circuit) run and after a failing run; the failing run
    still flushes its run log."""
    from cocktailsdb_spark.runlog import RunLog

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # start from an empty cache
    assert cache.isEmpty()
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    assert cache.isEmpty()
    _build(spark, base, bar_fixtures["bar_data"], dirs)  # no-op re-run
    assert cache.isEmpty()

    failing = str(tmp_path / "db_failing")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        _build(spark, failing, str(tmp_path / "no_such_bar_data.csv"), dirs)
    assert cache.isEmpty()
    hist = RunLog.history(spark, os.path.join(failing, "run_history")).collect()
    assert sorted((r["stage"], r["status"]) for r in hist) == [
        ("bar_data", "error"), ("sales_data", "ok"),
    ]


def test_batch_noop_batch_lands_every_row(spark, bar_fixtures, tmp_path):
    """Batch → no-op → batch over directories that gain a file: every row
    lands. A slice left pinned by the no-op run would be served again for
    the second batch (same plan, same directories), which would then see
    no new rows and short-circuit."""
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    added = _add_batch(dirs, 2)
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    n = 20 + 15 + 11 + added
    assert sales.count() == n
    # saleID numbers on across batches: 0..n-1, none repeated
    ids = sales.agg(F.min("saleID"), F.max("saleID"), F.countDistinct("saleID")).first()
    assert tuple(ids) == (0, n - 1, n)


def test_sale_id_continues_after_a_record_without_counts(spark, bar_fixtures, tmp_path):
    """A control record written before it kept the rows landed numbers
    the next batch from max(saleID)+1."""
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    store = WatermarkStore(os.path.join(base, "last_update"))
    store.write(spark, dict(store.read(spark)))  # marks only, as before
    assert store.read(spark).landed is None
    added = _add_batch(dirs, 2)
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    sales = spark.read.parquet(os.path.join(base, "global_sales"))
    n = 20 + 15 + 11 + added
    assert sales.select("saleID").distinct().count() == n
    assert store.read(spark).landed == n


# Spark jobs of one steady batch and one no-op re-run (nextJobId delta) at
# local[2] and local[4]. With one watermark-filter-and-max job per source
# and the sales sources re-scanned by every reader, they were 25 and 9.
# A steady batch skips both dimension writes (its stock file and fetched
# records are unchanged): 17 jobs, against 21 when it rewrote them.
STEADY_BATCH_JOBS = 17
NOOP_RUN_JOBS = 3


def test_steady_batch_and_noop_job_counts(spark, bar_fixtures, tmp_path):
    """The no-op re-run reads the marks and scans each source once (the
    marks job fills the pinned slice), then short-circuits; a batch adds
    no job per source."""
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    _build(spark, base, bar_fixtures["bar_data"], dirs).count()
    _add_batch(dirs, 2)
    _build(spark, base, bar_fixtures["bar_data"], dirs).count()  # warm the batch path
    _add_batch(dirs, 3)
    j0 = _next_job(spark)
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    batch = _next_job(spark) - j0
    j0 = _next_job(spark)
    _build(spark, base, bar_fixtures["bar_data"], dirs)
    noop = _next_job(spark) - j0
    assert batch <= STEADY_BATCH_JOBS, f"steady batch ran {batch} jobs"
    assert noop <= NOOP_RUN_JOBS, f"no-op re-run ran {noop} jobs"


# --- dimension writes follow their inputs ---------------------------------


def _data_files(base: str, table: str) -> dict[str, int]:
    loc = os.path.join(base, table)
    return {
        f: os.stat(os.path.join(loc, f)).st_mtime_ns
        for f in os.listdir(loc)
        if not f.startswith((".", "_"))
    }


def _last_detail(spark, base: str, stage: str) -> str:
    from cocktailsdb_spark.runlog import RunLog

    hist = RunLog.history(spark, os.path.join(base, "run_history"))
    return hist.filter(F.col("stage") == stage).orderBy(F.desc("started_at")).first()["detail"]


def _oracle_problems(spark, base: str, bar_data: str, dirs: dict[str, str]) -> list[str]:
    """poc_analysis against the reference PoC SQL over the same files."""
    import duckdb

    from cocktailsdb_spark.plans import reference_parity as rp
    from tools.selfcheck import normalize

    sql = (
        rp.REFERENCE_POC_SQL.replace(rp.BAR_DATA, bar_data)
        .replace(rp.BUDAPEST, f"{dirs['budapest']}/*.csv.gz")
        .replace(rp.LONDON, f"{dirs['london']}/*.csv.gz")
        .replace(rp.NY, f"{dirs['ny']}/*.csv.gz")
    )
    want = duckdb.connect().execute(sql).df()
    db = bar_pipeline.bar_db_name(base)
    got = spark.table(f"{db}.poc_analysis").toPandas()
    if len(got) != len(want):
        return [f"rowcount {len(got)} != {len(want)}"]
    return [] if normalize(got) == normalize(want) else ["values differ"]


def _rows(spark, base: str, table: str) -> list:
    return sorted(spark.read.parquet(os.path.join(base, table)).collect(), key=str)


def test_steady_batch_leaves_dimensions_untouched(spark, bar_fixtures, tmp_path):
    """A batch whose stock file is unchanged and whose drinks are all in
    the stored dim writes neither dimension, says so in the run log, and
    still lands its rows and matches the oracle."""
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    bar_data = bar_fixtures["bar_data"]
    _build(spark, base, bar_data, dirs)
    _add_batch(dirs, 2)  # brings 'spritz', a new drink
    _build(spark, base, bar_data, dirs)
    files = {t: _data_files(base, t) for t in ("bar_stock", "cocktails")}
    _add_batch(dirs, 3)  # the same drinks again
    _build(spark, base, bar_data, dirs)
    assert {t: _data_files(base, t) for t in files} == files
    assert _last_detail(spark, base, "sinks") == "skipped bar_stock, cocktails"
    assert spark.read.parquet(os.path.join(base, "global_sales")).count() == 20 + 15 + 11 + 10
    assert _oracle_problems(spark, base, bar_data, dirs) == []


def test_new_drink_or_newer_record_rewrites_cocktails(spark, bar_fixtures, tmp_path):
    """A batch that brings a new drink, or a transport record with a newer
    dateModified, rewrites cocktails; the dim and poc_analysis then equal a
    full load over the same inputs (and the PoC oracle)."""
    from cocktailsdb_spark.sources.http_source import fake_transport

    def newer_mojito(key):
        recs = fake_transport(key)
        if key == "mojito":
            recs.append({**recs[0], "dateModified": "2021-02-01 10:00:00", "strGlass": "coupe"})
        return recs

    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    bar_data = bar_fixtures["bar_data"]
    _build(spark, base, bar_data, dirs)

    before = _data_files(base, "cocktails")
    _add_batch(dirs, 2)  # 'spritz' is new
    _build(spark, base, bar_data, dirs)
    assert _data_files(base, "cocktails").keys().isdisjoint(before)
    assert _last_detail(spark, base, "sinks") == "skipped bar_stock"
    full = str(tmp_path / "full")
    _build(spark, full, bar_data, dirs)
    assert _rows(spark, base, "cocktails") == _rows(spark, full, "cocktails")
    assert _oracle_problems(spark, base, bar_data, dirs) == []

    before = _data_files(base, "cocktails")
    _add_batch(dirs, 3)  # known drinks, but mojito's record is newer
    bar_pipeline.build_database(
        spark, base, bar_data, dirs["budapest"], dirs["london"], dirs["ny"],
        transport=newer_mojito,
    )
    assert _data_files(base, "cocktails").keys().isdisjoint(before)
    full = str(tmp_path / "full_newer")
    bar_pipeline.build_database(
        spark, full, bar_data, dirs["budapest"], dirs["london"], dirs["ny"],
        transport=newer_mojito,
    )
    assert _rows(spark, base, "cocktails") == _rows(spark, full, "cocktails")
    mojito = [r for r in _rows(spark, base, "cocktails") if r["strDrink"] == "mojito"]
    assert [(r["dateModified"], r["strGlass"]) for r in mojito] == [
        ("2021-02-01 10:00:00", "coupe")
    ]
    assert _rows(spark, base, "poc_analysis") == _rows(spark, full, "poc_analysis")


def test_changed_stock_without_sales_refreshes_dimensions(spark, bar_fixtures, tmp_path):
    """A run with no new sales but an edited stock file does not
    short-circuit: bar_stock and poc_analysis's comment follow the new
    stock."""
    dirs = _sales_dirs(bar_fixtures, tmp_path)
    base = str(tmp_path / "db")
    bar_data = str(tmp_path / "bar_data.csv")
    shutil.copy(bar_fixtures["bar_data"], bar_data)
    _build(spark, base, bar_data, dirs)
    db = bar_pipeline.bar_db_name(base)
    assert spark.table(f"{db}.poc_analysis").filter("comment = 'NO ISSUE'").count() > 0

    with open(bar_data) as f:
        header, *lines = f.read().splitlines()
    out_of_stock = [f"{glass},0,{bar}" for glass, _, bar in (ln.split(",") for ln in lines)]
    with open(bar_data, "w") as f:
        f.write("\n".join([header, *out_of_stock]) + "\n")
    _build(spark, base, bar_data, dirs)  # no new sales
    assert {r["stock"] for r in spark.table(f"{db}.bar_stock").collect()} == {0}
    poc = spark.table(f"{db}.poc_analysis").filter("stock IS NOT NULL")
    assert {r["comment"] for r in poc.collect()} == {"POTENTIAL ISSUE"}
    assert _oracle_problems(spark, base, bar_data, dirs) == []


def test_control_table_without_committed_data_is_not_a_first_run(spark, tmp_path):
    """Only a missing control table reads as a first run. A directory a
    failed overwrite left empty, or holding only _SUCCESS, raises; a table
    written before the batch row was kept reads with no count or
    fingerprint."""
    import datetime as dt

    from cocktailsdb_spark.frames import local_frame
    from cocktailsdb_spark.sources.watermark import ControlTableError

    path = tmp_path / "last_update"
    store = WatermarkStore(str(path))
    assert store.read(spark) == {}
    path.mkdir()
    with pytest.raises(ControlTableError):
        store.read(spark)
    (path / "_SUCCESS").write_text("")
    with pytest.raises(ControlTableError):
        store.read(spark)

    marks = {"budapest": dt.datetime(2020, 12, 26, 22, 47)}
    local_frame(spark, marks.items(), "source string, high_water_mark timestamp").write.mode(
        "overwrite"
    ).parquet(str(path))
    old = store.read(spark)
    assert old == marks and old.landed is None and old.fingerprint is None
    store.write(spark, marks, landed=46, fingerprint="abc")
    new = store.read(spark)
    assert new == marks and (new.landed, new.fingerprint) == (46, "abc")
