"""Lloyd-Max quantization via exact 1-D weighted k-means.

The reference quantizes factor matrices by flattening to 1-D and running
sklearn ``KMeans(n_clusters=n_bins, random_state=1)``
(reference: graphrole/roles/factor.py:29-49). For one-dimensional data
the k-means optimum is computable *exactly* with dynamic programming
over the sorted unique values (clusters are contiguous intervals) — so
instead of imitating sklearn's seeded heuristic we use the deterministic
optimal quantizer. This is deterministic across runs and machines, at
least as good (in SSE) as the reference's, and — crucially for the
distributed engine — operates on a (value, count) histogram, so the
executors only ship ``groupBy(value).count()`` and the DP runs on the
driver.

Matches the reference's contract: output has at most ``n_bins`` distinct
values, each input replaced by its bin centroid, and a ``ValueError`` is
raised when ``n_bins`` exceeds the number of samples (the MDL grid
search relies on that signal, reference: roles/extract.py:124-129).
"""

from __future__ import annotations

from typing import Tuple

import numpy as np


def kmeans_1d_histogram(
    uniq: np.ndarray, counts: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray]:
    """Optimal weighted 1-D k-means on a histogram.

    ``dp[m][j]`` is the least SSE of ``uniq[0..j]`` in ``m + 1``
    contiguous clusters, minimized over the start ``i`` of the last one.
    The interval SSE satisfies the quadrangle inequality, so the leftmost
    optimal start is monotone in ``j`` and each layer is a
    divide-and-conquer over ``j`` (Wang & Song, Ckmeans.1d.dp, R Journal
    2011): the middle ``j`` of an open range searches only between the
    optimal starts of the range's ends. Every open range of a recursion
    level is solved in one vectorized step, so a layer costs O(n log n)
    work in O(log n) numpy steps and the whole DP O(k·n·log n). Ties go
    to the leftmost start.

    :param uniq: sorted unique values
    :param counts: positive weight (occurrence count) per unique value
    :param k: number of clusters
    :returns: (centroid per unique value, cluster id per unique value)
    """
    n = len(uniq)
    if n == 0:
        return np.zeros(0), np.zeros(0, dtype=np.int64)
    if k >= n:
        return uniq.astype(np.float64).copy(), np.arange(n, dtype=np.int64)

    w = counts.astype(np.float64)
    x = uniq.astype(np.float64)
    cw = np.concatenate([[0.0], np.cumsum(w)])
    cwx = np.concatenate([[0.0], np.cumsum(w * x)])
    cwx2 = np.concatenate([[0.0], np.cumsum(w * x * x)])

    def sse(i: np.ndarray, e: np.ndarray) -> np.ndarray:
        # weighted SSE of uniq[i:e] about its weighted mean, elementwise;
        # weights are positive, so every non-empty range has tw > 0
        tw = cw[e]
        tw -= cw[i]
        ts = cwx[e]
        ts -= cwx[i]
        c = cwx2[e]
        c -= cwx2[i]
        ts *= ts
        ts /= tw
        c -= ts
        return np.maximum(c, 0.0, out=c)

    # prev[i] = dp[m-1][i-1]: the cost of uniq[0:i] in m clusters
    prev = np.full(n + 1, np.inf)
    prev[1:] = sse(np.zeros(n, dtype=np.int64), np.arange(1, n + 1))
    back = np.zeros((k, n), dtype=np.int32)
    for m in range(1, k):
        # only j in [m, n - k + m] can lie on an optimal path; the last
        # layer needs j = n - 1 alone
        lo = np.array([m if m < k - 1 else n - 1])
        hi = np.array([n - k + m])
        opt_lo, opt_hi = np.array([m]), hi
        cur = np.full(n + 1, np.inf)
        while lo.size:
            mid = (lo + hi) // 2
            last = np.minimum(opt_hi, mid)
            size = last - opt_lo + 1
            first = np.cumsum(size) - size
            # candidate starts opt_lo..last of every range, laid end to end
            starts = np.ones(first[-1] + size[-1], dtype=np.int64)
            starts[first] = opt_lo
            starts[first[1:]] -= last[:-1]
            np.cumsum(starts, out=starts)
            cand = sse(starts, np.repeat(mid + 1, size))
            cand += prev[starts]
            best = np.minimum.reduceat(cand, first)
            hit = np.flatnonzero(cand == np.repeat(best, size))
            opt = starts[hit[np.searchsorted(hit, first)]]
            cur[mid + 1] = best
            back[m, mid] = opt
            # left halves keep [opt_lo, opt], right halves [opt, opt_hi]
            left = mid > lo
            right = mid < hi
            lo = np.concatenate([lo[left], mid[right] + 1])
            hi = np.concatenate([mid[left] - 1, hi[right]])
            opt_lo, opt_hi = (
                np.concatenate([opt_lo[left], opt[right]]),
                np.concatenate([opt[left], opt_hi[right]]),
            )
        prev = cur

    # recover cluster boundaries: cluster m is uniq[bounds[m]:bounds[m + 1]]
    bounds = [n]
    for m in range(k - 1, 0, -1):
        bounds.append(int(back[m, bounds[-1] - 1]))
    bounds.append(0)
    bounds.reverse()
    labels = np.repeat(np.arange(k, dtype=np.int64), np.diff(bounds))

    centroids = np.zeros(n)
    for s, e in zip(bounds[:-1], bounds[1:]):
        centroids[s:e] = np.average(x[s:e], weights=w[s:e])
    return centroids, labels


def encode(X: np.ndarray, n_bins: int) -> np.ndarray:
    """Quantize matrix X to at most ``n_bins`` distinct centroid values.

    Raises ``ValueError`` when n_bins exceeds the number of samples,
    mirroring sklearn KMeans (the reference MDL loop catches this to
    skip infeasible grid cells).
    """
    X = np.asarray(X, dtype=np.float64)
    if n_bins > X.size:
        raise ValueError(
            f"n_bins={n_bins} exceeds number of samples {X.size}"
        )
    flat = X.ravel()
    uniq, inverse, counts = np.unique(flat, return_inverse=True, return_counts=True)
    centroids, _ = kmeans_1d_histogram(uniq, counts, n_bins)
    return centroids[inverse].reshape(X.shape)
