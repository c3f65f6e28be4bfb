"""Small driver-side frames on the Arrow path.

``spark.createDataFrame(list_of_rows)`` pickles the rows and converts them
in a Python worker: a six-row run-log append at ``local[2]`` spent
0.40-0.49 s of its 0.63-0.70 s there. A ``pyarrow.Table`` is streamed to
the JVM as Arrow batches and starts no Python worker (0.16-0.21 s for the
same rows). Control tables (watermarks, run history) and driver-side API
fetches are all that small, so they all go through :func:`local_frame`.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _instant(v):
    # A naive datetime is process-local wall time, exactly as
    # createDataFrame(list) reads it (TimestampType.toInternal's mktime);
    # pinning the instant here keeps the session time zone out of it.
    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return v.astimezone(dt.timezone.utc)
    return v


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence | Mapping],
    schema: T.StructType | str,
) -> DataFrame:
    """DataFrame of ``rows`` (tuples in field order, or dicts keyed by
    field name) with ``schema`` (a StructType or a DDL string), built from
    a ``pyarrow.Table``. Naive datetimes in timestamp columns are read as
    process-local time, as the list path reads them."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    rows = list(rows)
    if rows and isinstance(rows[0], Mapping):
        rows = [tuple(r.get(n) for n in names) for r in rows]
    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in names]
    arrow = to_arrow_schema(schema)
    arrays = [
        pa.array(
            [_instant(v) for v in c] if isinstance(f.dataType, T.TimestampType) else c,
            type=a.type,
        )
        for c, f, a in zip(cols, schema.fields, arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema=schema)
