"""Explicit schemas.

The reference declares storage DDL in ``database/data_tables.sql:5-31``
(SQLite: integer / CHAR(50) / float / timestamp) but lets pandas infer at
ingestion. The engine never infers: every CSV/TSV reader is handed one of
these StructTypes (SURVEY.md §1.3). Raw ("staging") schemas keep dirty
columns as strings — cleaning is an explicit conform step, not reader magic.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- bar domain: raw staging shapes (one per physical source) -------------

# data/bar_data.csv — header glass_type,stock,bar; `stock` is dirty
# ("34 glasses") so it stages as string (reference cleans at
# build_database.py:86-87).
BAR_STOCK_RAW = T.StructType(
    [
        T.StructField("glass_type", T.StringType()),
        T.StructField("stock", T.StringType()),
        T.StructField("bar", T.StringType()),
    ]
)

# The three sales files share one logical shape: leading unnamed index,
# timestamp, drink, price. Source headers (Hungarian / none / English) are
# always discarded and replaced by this schema (build_database.py:105-142).
# Timestamps stage as string because formats differ per source
# (yyyy-MM-dd HH:mm:ss vs MM-dd-yyyy HH:mm) and a wrong parse must be an
# explicit, testable step (SURVEY.md §7 "what's hard").
SALES_RAW = T.StructType(
    [
        T.StructField("idx", T.LongType()),
        T.StructField("dateOfSale", T.StringType()),
        T.StructField("drink", T.StringType()),
        T.StructField("price", T.StringType()),
    ]
)

# --- bar domain: conformed/stored shapes (data_tables.sql:5-31) -----------

BAR_STOCK = T.StructType(
    [
        T.StructField("stockID", T.LongType(), False),
        T.StructField("glassType", T.StringType()),
        T.StructField("stock", T.IntegerType()),
        T.StructField("bar", T.StringType()),
    ]
)

GLOBAL_SALES = T.StructType(
    [
        T.StructField("saleID", T.LongType(), False),
        T.StructField("dateOfSale", T.TimestampType()),
        T.StructField("drink", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("bar", T.StringType()),
    ]
)

# cocktails dim — 7 columns projected from the API payload
# (build_database.py:187-197; DDL data_tables.sql:23-31).
COCKTAILS = T.StructType(
    [
        T.StructField("idDrink", T.StringType()),
        T.StructField("strDrink", T.StringType()),
        T.StructField("strCategory", T.StringType()),
        T.StructField("strIBA", T.StringType()),
        T.StructField("strAlcoholic", T.StringType()),
        T.StructField("strGlass", T.StringType()),
        T.StructField("dateModified", T.StringType()),
    ]
)

# watermark control table (replaces last_update.txt:1-3; SURVEY.md §2 S9/S10);
# landed/fingerprint are set on the batch row only (sources/watermark.py)
WATERMARKS = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("high_water_mark", T.TimestampType()),
        T.StructField("landed", T.LongType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)

# --- multimodal staging shape (SURVEY.md §2.9 / north_star) ----------------
# Opaque payload bytes + typed metadata; decode/feature steps are Pandas
# UDFs over mapInPandas (operators/multimodal.py).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)
