"""Seeded star-schema fixture generator for the ``star_queries`` and
``corpus_ops`` workloads.

Writes the ten tables ``cocktailsdb_spark.tables.TABLES`` reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file with one row group each, with the schemas
and value domains FIXTURES.md Family A lists for the TPC-H-ish fixtures.
Row counts scale with ``sf`` the way those fixtures do (lineitem 6M × sf);
documents and embeddings keep their 500-row floor. Pure numpy + pyarrow,
no Spark: the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000, 10),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype("int64")
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + d.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # ~1% exact duplicates and ~1% one-token near-duplicates, so the dedup
    # operators have real pairs to find
    n_dup = max(2, n // 100)
    for j in range(n_dup):
        src, dst = rng.choice(n, 2, replace=False)
        toks = texts[src].split()
        if j % 2:
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[dst] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    v = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(np.minimum(rng.exponential(25.0, n), 490.0) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)
    ids = lambda k: pa.array(np.arange(c[k]), pa.int64())  # noqa: E731
    nat = lambda k: pa.array(rng.integers(0, 25, c[k]), pa.int32())  # noqa: E731
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids("customer"),
                "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
                "c_nationkey": nat("customer"),
                "c_acctbal": _money(rng, -999.99, 9999.99, c["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, c["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids("supplier"),
                "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
                "s_nationkey": nat("supplier"),
                "s_acctbal": _money(rng, -999.99, 9999.99, c["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids("part"),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (c["part"], 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, c["part"])],
                "p_type": _pick(rng, PART_TYPES, c["part"]),
                "p_size": pa.array(rng.integers(1, 51, c["part"]), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(c["part"]) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids("orders"),
                "o_custkey": pa.array(rng.integers(0, c["customer"], c["orders"]), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], c["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, c["orders"]),
                "o_orderdate": _days(rng, c["orders"], dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": _pick(rng, PRIORITIES, c["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, c["orders"], c["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, c["part"], c["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, c["supplier"], c["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, c["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, c["lineitem"]).astype("float64"),
                "l_extendedprice": _money(rng, 901.0, 105000.0, c["lineitem"]),
                "l_discount": rng.integers(0, 11, c["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, c["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], c["lineitem"]),
                "l_linestatus": _pick(rng, ["F", "O"], c["lineitem"]),
                "l_shipdate": _days(rng, c["lineitem"], dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        ),
        "events": _events(rng, c["events"], max(15, c["customer"] // 10)),
        "documents": _documents(rng, c["documents"]),
        "embeddings": _embeddings(rng, c["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
        )
    return c
