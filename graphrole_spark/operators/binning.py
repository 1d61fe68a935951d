"""Distributed vertical log binning.

One path from feature columns to bin ids (SURVEY.md §2.4 P1):

1. :func:`capped_melt` — ONE melt + hash-aggregation action computes
   per-(feature, value) histograms and collects the first ≤ cap
   value-ordered rows of each plus its total row count; ReFeX feature
   values are sums/means of small seeds, so distinct counts stay ≪ row
   counts and the chunk is almost always the whole histogram;
2. :func:`chunked_bin_boundaries` — the exact reference boundary loop
   (reference: graphrole/features/prune.py:13-56, ``frac = 0.5``) runs
   driver-side over that chunk and yields the feature's *bin
   boundaries*; only a histogram longer than the cap costs further
   chunk fetches, so driver memory is bounded at any scale;
3. :func:`bin_expression` — bin assignment goes back into the plan as a
   JVM-side expression (a balanced CASE-WHEN tree over the boundaries),
   so the per-row hot path never touches Python.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def capped_melt(
    features: DataFrame, value_cols: Sequence[str], cap: int
) -> Dict[str, Tuple[np.ndarray, np.ndarray, int]]:
    """Per-feature histograms in ONE action: a stack+groupBy pass plus a
    tiny window over the aggregated rows.

    Features are keyed by ordinal (int) in flight — smaller hash-agg
    entries and exchange rows than string names; partial (map-side)
    aggregation shrinks the shuffle to ~distinct-values-per-partition.
    Collects at most ``cap`` value-ordered (value, count) rows per
    feature plus its total row count, so driver memory stays bounded at
    any cardinality.

    Returns ``{col: (uniq, counts, total)}`` for every column of
    ``value_cols``; the chunk is the whole histogram exactly when
    ``counts.sum() == total`` (:func:`chunked_bin_boundaries` fetches
    the rest otherwise).
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
        F.sum("count").over(wf).alias("total"),
    )
    rows = ranked.where(F.col("rn") <= cap).collect()
    by_fid: Dict[int, list] = {i: [] for i in range(n)}
    totals: Dict[int, int] = {}
    for row in rows:
        by_fid[row["fid"]].append((row["rn"], row["value"], row["count"]))
        totals[row["fid"]] = int(row["total"])
    out: Dict[str, Tuple[np.ndarray, np.ndarray, int]] = {}
    for i, col in enumerate(value_cols):
        pairs = sorted(by_fid[i])
        uniq = np.array([p[1] for p in pairs], dtype=float)
        counts = np.array([p[2] for p in pairs], dtype=np.int64)
        out[col] = (uniq, counts, totals.get(i, 0))
    return out


def chunked_bin_boundaries(
    features: Optional[DataFrame],
    col: str,
    hist: Tuple[np.ndarray, np.ndarray, int],
    cap: int = 1_000_000,
) -> np.ndarray:
    """Exact vertical-log-bin boundaries of ``col`` from its
    :func:`capped_melt` entry ``hist = (uniq, counts, total)``.

    Runs the reference boundary loop (:func:`graphrole_spark.oracle.
    binning.bin_boundaries`, ``frac = 0.5``) over value-ordered histogram
    chunks of ≤ ``cap`` rows. A complete first chunk resolves every
    boundary without touching ``features`` (which may then be None);
    otherwise, when the next boundary falls past the current chunk, the
    next chunk is fetched with a ``value > last_seen`` filtered
    aggregation. Bins are log-sized, so in practice a handful of chunks
    resolves all boundaries; worst case is O(distinct/cap) extra jobs,
    with driver memory bounded by ``cap`` rows throughout.
    """
    uniq, counts, total = hist
    if total <= 0 or len(uniq) == 0:
        return np.zeros(0, dtype=float)
    bounds: list = []
    placed = cum_offset = 0
    while True:
        cum = cum_offset + np.cumsum(counts)
        while placed < total:
            want = max(int(0.5 * (total - placed)), 1)
            idx = int(np.searchsorted(cum, placed + want, side="left"))
            if idx >= len(cum):
                break  # boundary lies in a later chunk
            bounds.append(float(uniq[idx]))
            placed = int(cum[idx])
        if placed >= total:
            return np.asarray(bounds, dtype=float)
        cum_offset, last_v = int(cum[-1]), float(uniq[-1])
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
