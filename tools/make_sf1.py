"""Synthesize larger-SF fixtures (sf1, sf10) from the driver's sf0.1
parquet by replicating the FACT tables N× with disjoint keys (dimensions
unchanged — TPC-H dims grow sublinearly and the scaling sweep stresses the
fact-side joins/aggregations). Used for the BASELINE.md scaling-trend runs
only; correctness sweeps stay on the driver-generated SFs.

Replicated document TEXT is salted with a per-replica token so copies are
DISTINCT documents (exact dedup and fingerprints differ). Note the salt
does NOT break near-duplication: a one-token suffix leaves cross-replica
Jaccard at ~n/(n+1), so minhash/Jaccard verified-pair output still grows
~quadratically in the replica count — a property of the replicated
workload, not the plans. The scaling sweep therefore normalizes those two
rows by output size (scaling_r6.json and scaling_r8.json "neardup_pairs"
hold the pair counts and sec-per-1k-pairs; see BASELINE.md round-6).

Embeddings ARE replicated since round 11 (they were fixed at 2,000
vectors before, which left the at-rest ANN index lifecycle with no
scaling axis): replica 0 keeps the original vectors — so the registered
QUERY_IDS still reference unchanged query points — and every other
replica perturbs each component with a deterministic md5-derived offset
in [-0.05, 0.05) (the scheme behind scaling_r6.json "ann_100x"), so replicas are
genuinely distinct points, not duplicate vectors that would collapse
into ties.

Usage:
    python tools/make_sf1.py                      # sf1  (10x)  -> /tmp/cdbspark_sf1
    python tools/make_sf1.py --replicas 100 --dst /tmp/cdbspark_sf10
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from cocktailsdb_spark.session import get_spark
from cocktailsdb_spark.tables import TABLES, load

FACTS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "documents": "doc_id"}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/cdbspark_sf1")
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("make_sf1")
    os.makedirs(args.dst, exist_ok=True)
    stride = (
        load(spark, args.src, "orders").agg(F.max("o_orderkey")).first()[0] + 1
    )
    for t in TABLES:
        out = os.path.join(args.dst, f"{t}.parquet")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        df = load(spark, args.src, t)
        if t == "events":
            # disjoint event_ids AND user_ids per replica: a clean N×
            # user population (same per-user behavior), not N duplicate
            # event streams on the same users
            user_stride = df.agg(F.max("user_id")).first()[0] + 1
            rep = spark.range(args.replicas).select(
                F.col("id").alias("_rep"),
                (F.col("id") * stride).alias("_off"),
                (F.col("id") * user_stride).alias("_uoff"),
            )
            df = (
                df.crossJoin(F.broadcast(rep))
                .withColumn("event_id", F.col("event_id") + F.col("_off"))
                .withColumn("user_id", F.col("user_id") + F.col("_uoff"))
                .drop("_rep", "_off", "_uoff")
            )
        elif t == "embeddings":
            # disjoint vec_ids; replica 0 unchanged, others md5-perturbed
            # per (vec, replica, dim) so replicated points are distinct
            # (see module docstring). conv(hex,16,10)/16^4 - 0.5 is a
            # uniform in [-0.5, 0.5); scaled to [-0.05, 0.05).
            vstride = df.agg(F.max("vec_id")).first()[0] + 1
            rep = spark.range(args.replicas).select(F.col("id").alias("_rep"))
            noise = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.col("vec_id"), F.col("_rep"), F.col("_d")
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(float(16**4))
                - F.lit(0.5)
            ) * F.lit(0.1)
            df = (
                df.crossJoin(F.broadcast(rep))
                .select(
                    (F.col("vec_id") + F.col("_rep") * vstride).alias("vec_id"),
                    F.col("label"),
                    F.col("_rep"),
                    F.posexplode("embedding").alias("_d", "_x"),
                )
                .select(
                    "vec_id",
                    "label",
                    "_d",
                    F.when(F.col("_rep") == 0, F.col("_x"))
                    .otherwise(F.col("_x") + noise)
                    .cast("float")
                    .alias("_x"),
                )
                .groupBy("vec_id", "label")
                .agg(
                    F.array_sort(F.collect_list(F.struct("_d", "_x"))).alias("_p")
                )
                .select(
                    "vec_id",
                    F.transform("_p", lambda s: s["_x"]).alias("embedding"),
                    "label",
                )
            )
        elif t in FACTS:
            key = FACTS[t]
            rep = spark.range(args.replicas).select(
                F.col("id").alias("_rep"), (F.col("id") * stride).alias("_off")
            )
            df = (
                df.crossJoin(F.broadcast(rep))
                .withColumn(key, F.col(key) + F.col("_off"))
            )
            if t == "documents":
                # per-replica text salt (see module docstring);
                # null-preserving — concat_ws would otherwise turn a
                # NULL-text doc into a non-null "zrepN" one-token doc
                df = df.withColumn(
                    "text",
                    F.when(
                        (F.col("_rep") == 0) | F.col("text").isNull(),
                        F.col("text"),
                    ).otherwise(
                        F.concat_ws(" ", F.col("text"), F.concat(F.lit("zrep"), F.col("_rep")))
                    ),
                )
            df = df.drop("_rep", "_off")
        if t in FACTS or t in ("events", "embeddings"):
            # realistic multi-file layout: the replicate crossJoin keeps
            # the source's 1-3 partitions, which writes ONE parquet file
            # with ONE row group — Spark then plans byte-range splits that
            # are empty past the first row-group boundary, so every scan
            # of the fixture executes single-threaded (measured round 10:
            # all 15M sf10 orders rows landed in one task). Real fact
            # tables arrive as many ~128MB files; write the fixture the
            # same way so scan parallelism is honest.
            df = df.repartition(max(32, args.replicas))
        df.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"{t}: {n} rows -> {out}")


if __name__ == "__main__":
    main()
