"""Distributed vertical log binning.

Two-phase plan (SURVEY.md §2.4 P1):

1. one melt + hash-aggregation pass computes per-(feature, value)
   histograms — ReFeX feature values are sums/means of small seeds, so
   distinct counts stay ≪ row counts and the histogram is driver-sized;
2. the exact reference binning loop
   (:func:`graphrole_spark.oracle.binning.log_bin_histogram`) runs on
   each histogram driver-side and yields per-feature *bin boundaries*;
3. bin assignment goes back into the plan as a JVM-side expression —
   ``bin = size(filter(boundaries, b -> b < value))`` over a broadcast
   literal array — so the per-row hot path never touches Python.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def melt_histogram(features: DataFrame, value_cols: Sequence[str]) -> Dict[str, tuple]:
    """Per-feature (unique values, counts) via a single stack+groupBy pass.

    Features are keyed by ordinal (int) in flight — smaller hash-agg
    entries and exchange rows than string names. Partial (map-side)
    aggregation shrinks the shuffle to ~distinct-values-per-partition.
    Returns {feature: (uniq ndarray, counts ndarray)} on the driver.
    """
    n = len(value_cols)
    stack_expr = "stack({}, {}) as (fid, value)".format(
        n, ", ".join(f"{i}, `{c}`" for i, c in enumerate(value_cols))
    )
    hist_rows = (
        features.selectExpr(stack_expr)
        .groupBy("fid", "value")
        .count()
        .collect()
    )
    by_feature: Dict[str, list] = {c: [] for c in value_cols}
    for row in hist_rows:
        by_feature[value_cols[row["fid"]]].append((row["value"], row["count"]))
    out = {}
    for feat, pairs in by_feature.items():
        pairs.sort(key=lambda p: p[0])
        uniq = np.array([p[0] for p in pairs], dtype=float)
        counts = np.array([p[1] for p in pairs], dtype=np.int64)
        out[feat] = (uniq, counts)
    return out


def capped_melt(
    features: DataFrame, value_cols: Sequence[str], cap: int
) -> Tuple[Dict[str, tuple], Dict[str, tuple]]:
    """Bounded-driver histogram melt (ONE action, like
    :func:`melt_histogram`, plus a tiny window over the aggregated rows).

    Collects at most ``cap`` ordered (value, count) rows per feature plus
    each feature's total row count. Features whose distinct count fits
    the cap come back complete; the rest come back as their FIRST chunk —
    the caller finishes the boundary search with
    :func:`chunked_bin_boundaries`, which never holds more than ``cap``
    histogram rows on the driver at once.

    Returns ``(complete, truncated)`` where complete maps
    ``col -> (uniq, counts)`` and truncated maps
    ``col -> (first_uniq, first_counts, total_rows)``.
    """
    n = len(value_cols)
    stack_expr = "stack({}, {}) as (fid, value)".format(
        n, ", ".join(f"{i}, `{c}`" for i, c in enumerate(value_cols))
    )
    hist = (
        features.selectExpr(stack_expr)
        .groupBy("fid", "value")
        .count()
    )
    wf = Window.partitionBy("fid")
    ranked = hist.select(
        "fid",
        "value",
        "count",
        F.row_number().over(wf.orderBy("value")).alias("rn"),
        F.count("*").over(wf).alias("nd"),
        F.sum("count").over(wf).alias("total"),
    )
    rows = ranked.where(F.col("rn") <= cap).collect()
    by_fid: Dict[int, list] = {i: [] for i in range(n)}
    meta: Dict[int, tuple] = {}
    for row in rows:
        by_fid[row["fid"]].append((row["rn"], row["value"], row["count"]))
        meta[row["fid"]] = (row["nd"], row["total"])
    complete: Dict[str, tuple] = {}
    truncated: Dict[str, tuple] = {}
    for i, col in enumerate(value_cols):
        pairs = sorted(by_fid[i])
        uniq = np.array([p[1] for p in pairs], dtype=float)
        counts = np.array([p[2] for p in pairs], dtype=np.int64)
        nd, total = meta.get(i, (0, 0))
        if nd <= cap:
            complete[col] = (uniq, counts)
        else:
            truncated[col] = (uniq, counts, int(total))
    return complete, truncated


def chunked_bin_boundaries(
    features: DataFrame,
    col: str,
    total: int,
    first_chunk: Tuple[np.ndarray, np.ndarray],
    frac: float = 0.5,
    cap: int = 1_000_000,
) -> np.ndarray:
    """Exact vertical-log-bin boundaries for a high-cardinality feature
    without ever collecting its full histogram.

    Runs the reference boundary loop (oracle.binning.log_bin_histogram
    semantics) over value-ordered histogram chunks of ≤ ``cap`` rows;
    when the next boundary falls past the current chunk, the next chunk
    is fetched with a ``value > last_seen`` filtered aggregation. Bins
    are log-sized, so in practice a handful of chunks resolves all
    boundaries; worst case is O(distinct/cap) extra jobs, with driver
    memory bounded by ``cap`` rows throughout.
    """
    bounds: list = []
    placed = 0
    cum_offset = 0
    uniq, counts = first_chunk
    if total <= 0 or len(uniq) == 0:
        return np.zeros(0, dtype=float)
    last_v = float(uniq[-1])
    while True:
        if len(uniq):
            cum = cum_offset + np.cumsum(counts)
            while placed < total:
                want = max(int(frac * (total - placed)), 1)
                target = placed + want
                idx = int(np.searchsorted(cum, target, side="left"))
                if idx >= len(cum):
                    break  # boundary lies in a later chunk
                bounds.append(float(uniq[idx]))
                placed = int(cum[idx])
            if placed >= total:
                return np.asarray(bounds, dtype=float)
            cum_offset = int(cum[-1])
            last_v = float(uniq[-1])
        rows = (
            features.select(F.col(col).alias("value"))
            .where(F.col("value") > F.lit(last_v))
            .groupBy("value")
            .count()
            .orderBy("value")
            .limit(cap)
            .collect()
        )
        if not rows:
            return np.asarray(bounds, dtype=float)
        uniq = np.array([r["value"] for r in rows], dtype=float)
        counts = np.array([r["count"] for r in rows], dtype=np.int64)


def bin_expression(col_name: str, boundaries: np.ndarray) -> Column:
    """JVM-side bin id: number of boundaries strictly below the value.

    Emitted as a CASE WHEN chain over the (few dozen) boundaries —
    unlike a higher-order ``filter`` over an array literal, a CASE chain
    participates in whole-stage codegen, which matters because this
    expression sits under the hottest per-generation scan. Falls back to
    the HOF form only for pathologically long boundary lists.
    """
    n = len(boundaries)
    if n <= 1:
        return F.lit(0)
    if n > 1024:
        arr = F.array(*[F.lit(float(b)) for b in boundaries])
        return F.size(F.filter(arr, lambda b: b < F.col(col_name)))

    # balanced binary-search tree of WHENs: value v belongs to bin j where
    # boundaries[j-1] < v <= boundaries[j]; O(log n) comparisons per row
    # instead of a linear CASE scan (this expression sits under the hottest
    # per-generation projection, F features x millions of rows)
    col = F.col(col_name)

    def tree(lo: int, hi: int) -> Column:
        # answer bin index within [lo, hi] given boundaries[lo-1] < v
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(col <= float(boundaries[mid]), tree(lo, mid)).otherwise(
            tree(mid + 1, hi)
        )

    return tree(0, n - 1)
