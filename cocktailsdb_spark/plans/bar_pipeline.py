"""The full reference ETL pipeline, re-expressed Spark-first —
SURVEY.md §3.1 stages 2–6 plus the §3.2 PoC query as stage 7.

Reference: build_database.py:227-253 (main), database/poc_tables.sql.
Same semantics on the same-shaped inputs (FIXTURES.md Family B), with the
documented §3.4 fixes: explicit schemas/parameters (no inferred col_names,
no cross-function locals), watermark advance AFTER the sink, latest-wins
dedup keyed on idDrink.

Storage: real catalog tables (``saveAsTable``) in a per-base database whose
LOCATION is the base path, so the physical layout stays plain parquet
directories (global_sales / bar_stock / cocktails / poc_analysis) readable
without the catalog too. S6 sink_append = append-mode saveAsTable;
S8 sink_ctas = overwrite-mode saveAsTable of the PoC result (the direct
analog of poc_tables.sql:3's CREATE TABLE AS). At scale global_sales would
be partitioned by to_date(dateOfSale) so the watermark filter
partition-prunes.

Incremental cost: a batch appends its slice to global_sales, numbering
saleID on from the rows landed so far (kept in the control record), and
rewrites a dimension only when its input changed — bar_stock when the
stock file's fingerprint (also in the control record) moved, cocktails
when the fetched records hold a row the stored dim lacks. The PoC CTAS
is rebuilt every batch.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform
from ..operators.dedup import latest_wins
from ..runlog import RunLog
from ..sources import csv_sources
from ..sources.http_source import Transport, bounded_keys, fetch_df, http_transport
from ..sources.watermark import DEFAULT_MARK, ControlRecord, WatermarkStore, advance_marks
from ..tables import _file_identity

SOURCE_BARS = ("budapest", "london", "new york")


def bar_db_name(base_dir: str) -> str:
    """Catalog database for one pipeline instance — name derived from the
    base path so concurrent instances (tests, parity runs) never collide
    in the shared session catalog."""
    return "bar_" + hashlib.md5(base_dir.encode("utf-8")).hexdigest()[:8]


def _ensure_bar_db(spark: SparkSession, base_dir: str) -> str:
    db = bar_db_name(base_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{base_dir}'")
    return db


def _attach_table(spark: SparkSession, db: str, name: str, base_dir: str) -> bool:
    """Re-attach a table directory written by an earlier process to this
    session's catalog (metadata-only). True iff the table is now queryable."""
    full = f"{db}.{name}"
    if spark.catalog.tableExists(full):
        return True
    loc = os.path.join(base_dir, name)
    if not os.path.isdir(loc):
        return False
    ddl = ", ".join(f"{n} {t}" for n, t in spark.read.parquet(loc).dtypes)
    spark.sql(f"CREATE TABLE {full} ({ddl}) USING parquet LOCATION '{loc}'")
    return True


def _write_table(
    spark: SparkSession,
    df: DataFrame,
    db: str,
    name: str,
    base_dir: str,
    append: bool,
) -> None:
    """Sink one table with S6 (append) / S8 (overwrite-CTAS) semantics,
    robust to a FRESH process re-running over an existing base_dir (the
    incremental-load scenario): data directories left by an earlier
    process are re-attached to the catalog (append history) or replaced
    (overwrite deriveds) instead of tripping LOCATION_ALREADY_EXISTS."""
    import shutil

    full = f"{db}.{name}"
    loc = os.path.join(base_dir, name)
    if not spark.catalog.tableExists(full) and os.path.isdir(loc):
        if append:
            _attach_table(spark, db, name, base_dir)  # keep the history
        else:
            shutil.rmtree(loc)  # derived table: overwrite rebuilds it
    if spark.catalog.tableExists(full):
        cols = spark.table(full).columns  # insertInto matches by position
        df.select(*cols).write.insertInto(full, overwrite=not append)
    else:
        df.write.saveAsTable(full)


def process_bar_data(spark: SparkSession, path: str) -> DataFrame:
    """Stage 3 (build_database.py:76-92): S1 scan → P2 rename → P3 key →
    P4 dirty-int clean → P7 lowercase."""
    raw = csv_sources.read_bar_stock(spark, path)
    df = (
        conform.rename(raw, {"glass_type": "glassType"})
        .withColumn("stock", conform.extract_int("stock"))
    )
    df = conform.add_surrogate_key(df, "stockID", ["glassType", "bar"])
    return conform.lowercase_strings(
        df.select("stockID", "glassType", "stock", "bar")
    )


def process_sales_data(
    spark: SparkSession,
    budapest_path: str,
    london_path: str,
    ny_path: str,
    marks: dict,
    first_id: int = 0,
) -> tuple[DataFrame, dict, dict, DataFrame]:
    """Stage 4 (build_database.py:95-168): three heterogeneous scans →
    per-source bar tag (P8) + strict-> watermark filter (P9) → union (O3)
    → new marks and row counts for every source in one grouped job (A2)
    → saleID (P3) numbered from ``first_id`` → price double (P5) →
    lowercase (P7).

    Returns (conformed sales, new marks, rows per source, pinned slice).
    The tagged, filtered union is persisted lazily: the marks job fills
    it, and the distinct-drink collect and the global_sales append read
    it, so each source is scanned once per batch. The CALLER unpersists
    the slice on every path — Spark's cache would otherwise serve a later
    run's identical plan over the same directories, new files or not —
    and writes the marks after the sink commits (the §3.4 ordering fix)."""
    sources = {
        "budapest": csv_sources.read_sales_iso_csv(spark, budapest_path),
        "london": csv_sources.read_sales_tsv_headerless(spark, london_path),
        "new york": csv_sources.read_sales_us_dates(spark, ny_path),
    }
    inc = conform.union_by_name([
        conform.filter_after_watermark(
            conform.with_source_tag(df, "bar", bar), "dateOfSale",
            marks.get(bar, DEFAULT_MARK),
        )
        for bar, df in sources.items()
    ]).persist()
    try:
        new_marks, counts = advance_marks(inc, "bar", "dateOfSale", marks)
    except BaseException:
        inc.unpersist()
        raise
    sales = conform.add_surrogate_key(
        inc.drop("idx"), "saleID", ["bar", "dateOfSale", "drink", "price"]
    )
    sales = sales.withColumn("saleID", F.col("saleID") + first_id).withColumn(
        "price", conform.cast_double("price")
    )
    return (
        conform.lowercase_strings(
            sales.select("saleID", "dateOfSale", "drink", "price", "bar")
        ),
        new_marks,
        counts,
        inc,
    )


def query_cocktail_data(
    spark: SparkSession, sales: DataFrame, transport: Transport = http_transport
) -> DataFrame:
    """Stage 5 (build_database.py:171-224): A3 distinct drinks → S5 per-key
    fetch (error→empty) → O1+O2 latest-wins dedup on idDrink → P7.

    The distinct-drink collect goes through the capped ``bounded_keys``
    (238 keys in the reference corpus; a silently-grown dimension raises
    the named error pointing at fetch_distributed instead of OOMing the
    driver)."""
    keys = bounded_keys(sales, "drink")
    # driver-sized (the capped keys): one partition, so no shuffle to dedup
    raw = fetch_df(spark, keys, transport=transport).coalesce(1)
    dd = latest_wins(raw, ["idDrink"], ["dateModified", "strDrink"])
    return conform.lowercase_strings(dd)


POC_SQL = """
WITH grouped_drinks AS (
  SELECT date_format(gs.dateOfSale, 'yyyy-MM-dd') AS dayOfSale,
         gs.drink, gs.price, gs.bar, c.strGlass,
         COUNT(gs.drink) AS drinkCount
  FROM global_sales gs
  LEFT JOIN cocktails c ON c.strDrink = gs.drink
  GROUP BY 1, 2, 3, 4, 5
)
SELECT gd.dayOfSale, gd.drink, gd.price, gd.bar, gd.strGlass, gd.drinkCount,
       bs.stock,
       CASE WHEN gd.drinkCount < bs.stock THEN 'NO ISSUE'
            WHEN gd.drinkCount >= bs.stock THEN 'POTENTIAL ISSUE'
       END AS comment
FROM grouped_drinks gd
LEFT JOIN bar_stock bs
  ON gd.strGlass = bs.glassType AND gd.bar = bs.bar
"""


def poc_analysis_bar(
    spark: SparkSession,
    sales: DataFrame,
    stock: DataFrame,
    cocktails: DataFrame,
) -> DataFrame:
    """Stage 7 — poc_tables.sql:6-34 verbatim semantics (dims broadcast)."""
    sales.createOrReplaceTempView("global_sales")
    F.broadcast(stock).createOrReplaceTempView("bar_stock")
    F.broadcast(cocktails).createOrReplaceTempView("cocktails")
    return spark.sql(POC_SQL)


def _merge_cocktails_dim(
    spark: SparkSession, db: str, base_dir: str, fresh: DataFrame
) -> DataFrame:
    """Dimension maintenance: an incremental run only fetches API records
    for drinks in the NEW sales slice, so the dim must be merged with the
    stored table, not overwritten from the slice (which would wipe it on a
    0-row run). The reference appends blindly (build_database.py:252,
    accumulating duplicate idDrinks across runs); the engine's fix is a
    latest-wins merge on idDrink — same records, no duplicates. The merged
    dim is staged to a sibling parquet dir first so the overwrite never
    reads the table it is replacing (the caller cleans the staging dir
    after the sink commits). A stored dim is attached by the caller."""
    full = f"{db}.cocktails"
    if not spark.catalog.tableExists(full):
        return fresh
    merged = latest_wins(
        spark.table(full).unionByName(fresh), ["idDrink"], ["dateModified", "strDrink"]
    )
    staged = os.path.join(base_dir, "_cocktails_staged")
    merged.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


def _holds_every_row(stored: DataFrame, fresh: DataFrame) -> bool:
    """True iff every row of ``fresh`` appears in ``stored``, compared
    null-safe column by column. When ``stored`` is a ``latest_wins``
    output, latest_wins(stored ∪ fresh) is then ``stored`` itself, so the
    merge would rewrite the same rows. Both sides are dimension-sized and
    ``fresh`` is one partition (``query_cocktail_data``): a one-partition
    hash anti-join is one job, with no shuffle and no broadcast."""
    on = [fresh[c].eqNullSafe(stored[c]) for c in fresh.columns]
    return fresh.join(stored.coalesce(1).hint("shuffle_hash"), on, "left_anti").isEmpty()


def _stock_fingerprint(path: str) -> str | None:
    """The stock input's identity — real path, mtime_ns and size, for
    every file under a directory — as a short hash. None when the path
    cannot be stat'ed locally; the stock is then rebuilt every batch."""
    ident = _file_identity(path)
    return ident and hashlib.sha256(repr(ident).encode("utf-8")).hexdigest()[:16]


def _first_sale_id(
    spark: SparkSession, db: str, base_dir: str, record: ControlRecord
) -> int:
    """The saleID a batch numbers from: the rows landed so far, as the
    control record keeps them. A record written before it kept the count
    falls back to max(saleID)+1 of the stored global_sales (one job, once:
    that batch's record keeps the count); a first run starts at 0."""
    if record.landed is not None:
        return record.landed
    if not _attach_table(spark, db, "global_sales", base_dir):
        return 0
    top = spark.table(f"{db}.global_sales").agg(F.max("saleID")).first()[0]
    return 0 if top is None else top + 1


def build_database(
    spark: SparkSession,
    base_dir: str,
    bar_data_path: str,
    budapest_path: str,
    london_path: str,
    ny_path: str,
    transport: Transport = http_transport,
) -> DataFrame:
    """The whole main() (build_database.py:227-253) + PoC CTAS.

    Write order (§3.4 fix): sinks commit, THEN the control record — the
    watermarks, the rows landed so far and the stock input's fingerprint,
    in one write. A crash in between re-runs the batch's writes.
    All four tables are catalog tables (S6 append / S8 CTAS-overwrite
    semantics); returns the materialized poc_analysis table.

    A batch rewrites a dimension only when its input changed: bar_stock
    when ``bar_data_path``'s fingerprint differs from the recorded one,
    cocktails when the fetched records hold a row the stored dim lacks.
    The sinks stage's run-log detail names the dimensions it skipped.

    No-new-data runs short-circuit: when no source advanced its watermark
    (strict-`>` filter admitted zero rows everywhere), the stock input is
    unchanged and all four tables already exist, the stored poc_analysis
    is returned without rewriting anything — the incremental protocol's
    whole point.

    The marks are read once. The pinned sales slice (see
    ``process_sales_data``) is released and the run log flushed on every
    path: batch, short-circuit and failure."""
    store = WatermarkStore(os.path.join(base_dir, "last_update"))
    db = _ensure_bar_db(spark, base_dir)
    runlog = RunLog(os.path.join(base_dir, "run_history"))
    pinned = None

    try:
        with runlog.stage("sales_data"):
            before = store.read(spark)
            first_id = _first_sale_id(spark, db, base_dir, before)
            sales, new_marks, counts, pinned = process_sales_data(
                spark, budapest_path, london_path, ny_path, before, first_id
            )
        stock_id = _stock_fingerprint(bar_data_path)
        keep_stock = (
            stock_id is not None
            and stock_id == before.fingerprint
            and _attach_table(spark, db, "bar_stock", base_dir)
        )
        if before and new_marks == before and keep_stock and all(
            _attach_table(spark, db, t, base_dir)
            for t in ("global_sales", "cocktails", "poc_analysis")
        ):
            with runlog.stage("short_circuit", "no source advanced its watermark"):
                return spark.table(f"{db}.poc_analysis")

        with runlog.stage("bar_data", "input unchanged" if keep_stock else ""):
            stock = None if keep_stock else process_bar_data(spark, bar_data_path)
        with runlog.stage("cocktail_dim"):
            cocktails = query_cocktail_data(spark, sales, transport)
            keep_cocktails = _attach_table(spark, db, "cocktails", base_dir) and (
                _holds_every_row(spark.table(f"{db}.cocktails"), cocktails)
            )

        kept = {"bar_stock": keep_stock, "cocktails": keep_cocktails}
        skipped = ", ".join(t for t, keep in kept.items() if keep)
        with runlog.stage("sinks", f"skipped {skipped}" if skipped else ""):
            _write_table(spark, sales, db, "global_sales", base_dir, append=True)  # S6
            if not keep_stock:
                _write_table(spark, stock, db, "bar_stock", base_dir, append=False)
            if not keep_cocktails:
                cocktails = _merge_cocktails_dim(spark, db, base_dir, cocktails)
                _write_table(spark, cocktails, db, "cocktails", base_dir, append=False)
                staged = os.path.join(base_dir, "_cocktails_staged")
                if os.path.isdir(staged):
                    import shutil

                    shutil.rmtree(staged)
            # only after the sinks committed
            store.write(
                spark, new_marks,
                landed=first_id + sum(counts.values()), fingerprint=stock_id,
            )

        with runlog.stage("poc_ctas"):
            poc = poc_analysis_bar(
                spark,
                spark.table(f"{db}.global_sales"),
                spark.table(f"{db}.bar_stock"),
                spark.table(f"{db}.cocktails"),
            )
            # S8 sink_ctas: CREATE TABLE AS with overwrite semantics
            _write_table(spark, poc, db, "poc_analysis", base_dir, append=False)
    finally:
        if pinned is not None:
            pinned.unpersist()
        runlog.flush(spark)  # a failed run still records what happened
    return spark.table(f"{db}.poc_analysis")
