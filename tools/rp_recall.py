#!/usr/bin/env python
"""Measured banded recall of the random-hyperplane LSH (rp_lsh.py) vs the
cosine of the pair — the data-justification for (RP_BANDS, RP_BITS), the
same role the recall-vs-nprobe curve plays for the IVF tier's defaults.

Method: for each target cosine c, synthesize N_PAIRS vector pairs at
EXACTLY that angle (v2 = c·v̂1 + sin(θ)·û with û ⊥ v1, both drawn from a
seeded Gaussian so the pairs cover the sphere uniformly), push both sides
through the REAL rp_signatures (md5-derived planes and all — this measures
the implementation, not the math), and count the fraction of pairs sharing
at least one (band, bucket). The analytic Charikar curve
R(c) = 1 - (1 - (1 - θ/π)^RP_BITS)^RP_BANDS is printed beside it: agreement
validates the md5-derived planes behave like true random hyperplanes.

Usage: python tools/rp_recall.py [n_pairs]
Writes /tmp/rp_recall_result.json and prints the SCALE.md markdown table.
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COSINES = [0.99, 0.97, 0.95, 0.90, 0.85, 0.80, 0.70, 0.60, 0.45]
DIM = 64
SEED = 42


def make_pairs(n_pairs: int, cosine: float, rng: np.random.Generator):
    v1 = rng.standard_normal((n_pairs, DIM))
    v1 /= np.linalg.norm(v1, axis=1, keepdims=True)
    u = rng.standard_normal((n_pairs, DIM))
    u -= (u * v1).sum(axis=1, keepdims=True) * v1  # orthogonalize
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    v2 = cosine * v1 + math.sqrt(1.0 - cosine * cosine) * u
    return v1, v2


def main() -> None:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 400

    from temporalvault_spark.operators.rp_lsh import RP_BANDS, RP_BITS, rp_signatures
    from temporalvault_spark.session import get_spark

    spark = get_spark("rp-recall")
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(SEED)
    results = {}
    for c in COSINES:
        v1, v2 = make_pairs(n_pairs, c, rng)
        rows = []
        for i in range(n_pairs):
            rows.append((2 * i, [float(x) for x in v1[i]]))
            rows.append((2 * i + 1, [float(x) for x in v2[i]]))
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        sigs = rp_signatures(emb).select("vec_id", "band", "bucket").collect()
        buckets: dict[int, set] = {}
        for r in sigs:
            buckets.setdefault(r["vec_id"], set()).add((r["band"], r["bucket"]))
        hits = sum(
            1
            for i in range(n_pairs)
            if buckets.get(2 * i, set()) & buckets.get(2 * i + 1, set())
        )
        theta = math.acos(c)
        analytic = 1.0 - (1.0 - (1.0 - theta / math.pi) ** RP_BITS) ** RP_BANDS
        results[c] = {
            "measured": round(hits / n_pairs, 3),
            "analytic": round(analytic, 3),
        }
        print(f"cos={c}: {results[c]}", flush=True)

    with open("/tmp/rp_recall_result.json", "w") as f:
        json.dump(
            {"bands": RP_BANDS, "bits": RP_BITS, "n_pairs": n_pairs, "recall": results},
            f,
            indent=1,
        )

    print(f"\n| pair cosine | measured recall | analytic R(c) |")
    print("|---|---|---|")
    for c, r in results.items():
        print(f"| {c} | {r['measured']} | {r['analytic']} |")


if __name__ == "__main__":
    main()
