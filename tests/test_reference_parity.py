"""End-to-end run over the ACTUAL reference data files: row counts match
the reference's own full-load numbers (150,000 sales from 3×50,000-row
gzip CSVs, 93 stock rows — reference build_database.py:162,78) and the PoC
result matches a DuckDB oracle reading the same CSVs."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cocktailsdb_spark.plans import bar_pipeline, reference_parity  # noqa: E402

pytestmark = pytest.mark.skipif(
    not reference_parity.reference_data_present(),
    reason=f"reference data files absent under {reference_parity.REF_DATA}",
)


@pytest.fixture(scope="module")
def ref_poc(spark):
    return reference_parity.build_reference_database(spark)


def test_reference_full_load_counts(spark, ref_poc):
    db = bar_pipeline.bar_db_name(reference_parity._CACHE_BASE)
    assert spark.table(f"{db}.global_sales").count() == 150_000
    assert spark.table(f"{db}.bar_stock").count() == 93
    # the one dirty stock string: '34 glasses' → 34 (new york highball)
    row = (
        spark.table(f"{db}.bar_stock")
        .filter((F.col("bar") == "new york") & (F.col("glassType") == "highball glass"))
        .first()
    )
    assert row["stock"] == 34
    # 238 distinct drinks drive the API fan-out (reference README / A3)
    assert (
        spark.table(f"{db}.global_sales").select("drink").distinct().count() == 238
    )


def test_reference_sources_parse_clean(spark, ref_poc):
    """No timestamp ever failed to parse (a wrong format yields nulls)."""
    db = bar_pipeline.bar_db_name(reference_parity._CACHE_BASE)
    sales = spark.table(f"{db}.global_sales")
    assert sales.filter(F.col("dateOfSale").isNull()).count() == 0
    per_bar = {r["bar"]: r["n"] for r in sales.groupBy("bar").agg(F.count("*").alias("n")).collect()}
    assert per_bar == {"budapest": 50_000, "london": 50_000, "new york": 50_000}


def test_reference_poc_matches_duckdb_oracle(spark, ref_poc):
    import duckdb
    import numpy as np
    import pandas as pd

    sdf = ref_poc.toPandas()
    odf = duckdb.connect().execute(reference_parity.REFERENCE_POC_SQL).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        rows = []
        for row in df.itertuples(index=False, name=None):
            rows.append(
                tuple(
                    "NULL" if v is None or (isinstance(v, float) and np.isnan(v))
                    else f"{float(v):.10g}" if isinstance(v, (float, np.floating))
                    else str(int(v)) if isinstance(v, (int, np.integer))
                    else str(v)
                    for v in row
                )
            )
        return sorted(rows)

    assert norm(sdf) == norm(odf)
