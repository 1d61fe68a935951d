#!/usr/bin/env python
"""Scale sweep for the RolX quantizer (exact weighted 1-D k-means):
``kmeans_1d_histogram`` on synthetic histograms of growing distinct-value
counts, timings appended to BENCH_QUANTIZE_SCALE.jsonl.

Histogram: n distinct values spaced by exponential gaps (a heavy-tailed
spread like an NMF factor's), each with a seeded integer count in
[1, 100). The quantizer runs on the driver and never touches Spark, so
no session is started. The DP costs O(k·n·log n); each size line holds
one timing per k so the growth in n and in k can be read off directly.

Usage: SPARK_GRAFT_QUANTIZE_SIZES=1000,10000 python scripts/quantize_scale.py
Defaults: n in 10^3..10^6; k is always 8, 32 and 128. Appends one JSON
line per size to BENCH_QUANTIZE_SCALE.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

BINS = (8, 32, 128)


def synth_histogram(n: int, seed: int = 0):
    rng = np.random.RandomState(seed)
    uniq = np.cumsum(rng.exponential(1.0, n) + 1e-9)
    counts = rng.randint(1, 100, n)
    return uniq, counts


def main() -> None:
    from graphrole_spark.oracle.quantize import kmeans_1d_histogram

    sizes = [
        int(x)
        for x in os.environ.get(
            "SPARK_GRAFT_QUANTIZE_SIZES", "1000,10000,100000,1000000"
        ).split(",")
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log = os.path.join(repo, "BENCH_QUANTIZE_SCALE.jsonl")
    for n in sizes:
        uniq, counts = synth_histogram(n)
        rec = {"n_distinct": n, "load1": round(os.getloadavg()[0], 2)}
        for k in BINS:
            t0 = time.perf_counter()
            centroids, _ = kmeans_1d_histogram(uniq, counts, k)
            sec = time.perf_counter() - t0
            rec[f"k{k}_sec"] = round(sec, 4)
            rec[f"k{k}_sse"] = float(np.sum(counts * (uniq - centroids) ** 2))
        print(json.dumps(rec), flush=True)
        with open(log, "a") as f:
            f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
