#!/usr/bin/env python
"""Scaling-exponent stress: run the slowest bench queries at sf0.1 and at a
synthetic FACTOR-x upscale, and record t_big/t_small ratios + exponents
(log-ratio / log-factor) so a super-linear surprise shows up locally before
a real cluster finds it.

The upscale (built once under /tmp) replicates each big table FACTOR times
with replica salting chosen so the DUPLICATE STRUCTURE scales linearly —
the property that makes the exponents meaningful for the dedup tier:

- documents: replica i prefixes every token with ``r{i}`` — within-replica
  shingle/substring/exact-dup structure is preserved exactly, while
  cross-replica Jaccard is 0, so dup groups multiply by FACTOR instead of
  growing FACTOR-fold in size (which would quadratically inflate pair
  OUTPUT and measure the data, not the plan).
- embeddings: replica i flips the sign of a per-(replica, dim) determinstic
  subset of dimensions — within-replica geometry (norms, cluster shape) is
  preserved, cross-replica cosines decorrelate, so IVF/SemDeDup pair counts
  scale with FACTOR.
- events / orders+lineitem: id-space shift per replica (user_id,
  o_orderkey/l_orderkey) — per-entity behavior identical, entity count x
  FACTOR. Dimension tables stay fixed (facts grow, dims don't — the
  realistic shape).

Usage: python tools/scale_stress.py [factor] [n_queries] [extra,names]
Writes /tmp/scale_stress_result.json and prints a markdown table for
SCALE.md.
"""

from __future__ import annotations

import gc
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
ID_OFF = 10_000_000


def build_scaled(spark, out_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def reps(df, mk):
        parts = [df]
        for i in range(1, factor):
            parts.append(mk(df, i))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    reps(
        docs,
        lambda d, i: d.select(
            (F.col("doc_id") + i * ID_OFF).alias("doc_id"),
            F.when(
                F.col("text").isNotNull(),
                F.array_join(
                    F.transform(
                        F.split("text", " "), lambda t: F.concat(F.lit(f"r{i}"), t)
                    ),
                    " ",
                ),
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    reps(
        emb,
        lambda d, i: d.select(
            (F.col("vec_id") + i * ID_OFF).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, j) -> "
                f"CASE WHEN (j * 40503 + {i * 2654435}) % 97 % 2 = 0 "
                f"THEN x ELSE -x END)"
            ).alias("embedding"),
            "label",
        ),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    reps(
        ev,
        lambda d, i: d.select(
            (F.col("event_id") + i * ID_OFF).alias("event_id"),
            "ts",
            (F.col("user_id") + i * ID_OFF).alias("user_id"),
            "event_type",
            "value",
            "props",
        ),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    reps(
        orders,
        lambda d, i: d.withColumn("o_orderkey", F.col("o_orderkey") + i * ID_OFF),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    reps(
        li,
        lambda d, i: d.withColumn("l_orderkey", F.col("l_orderkey") + i * ID_OFF),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    for t in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out_dir = f"/tmp/sfx{factor}"

    from temporalvault_spark.session import get_spark

    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{out_dir}/_DONE"):
        t0 = time.time()
        build_scaled(spark, out_dir, factor)
        open(f"{out_dir}/_DONE", "w").write("ok")
        print(f"built {out_dir} in {time.time() - t0:.0f}s", flush=True)

    import temporalvault_spark.operators  # noqa: F401
    from temporalvault_spark.registry import QUERIES

    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        bench = json.load(f)
    slow = [
        name
        for name, _ in sorted(bench["queries"].items(), key=lambda kv: -kv[1])[:n_q]
    ]
    # argv[3]: comma-separated extra queries to measure regardless of rank
    # (e.g. the staging jobs, whose cost the exponent table must cover even
    # when they drop out of the slowest-N)
    for name in sys.argv[3].split(",") if len(sys.argv) > 3 else []:
        if name and name not in slow:
            slow.append(name)

    results = {}
    for name in slow:
        fn = QUERIES[name]
        times = {}
        for tag, d in (("small", SRC), ("big", out_dir)):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                df = fn(spark, d)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[tag] = best
            df = None
            gc.collect()
        ratio = times["big"] / times["small"]
        results[name] = {
            "t_sf0.1": round(times["small"], 3),
            f"t_x{factor}": round(times["big"], 3),
            "ratio": round(ratio, 2),
            "exponent": round(math.log(ratio) / math.log(factor), 3),
        }
        print(f"{name}: {results[name]}", flush=True)

    with open("/tmp/scale_stress_result.json", "w") as f:
        json.dump({"factor": factor, "queries": results}, f, indent=1)

    print(f"\n| query | t(sf0.1) s | t(x{factor}) s | ratio | exponent |")
    print("|---|---|---|---|---|")
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["exponent"]):
        print(
            f"| {name} | {r['t_sf0.1']} | {r[f't_x{factor}']} "
            f"| {r['ratio']} | {r['exponent']} |"
        )


if __name__ == "__main__":
    main()
