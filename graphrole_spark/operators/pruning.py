"""Distributed feature pruning: pairwise Chebyshev distances.

The pairwise Chebyshev distances between binned feature columns reduce
to ONE Arrow reduction pass: every partition bins its rows against the
driver-computed log-bin boundaries and keeps the running max |Δbin| per
feature pair (feature count is tens — the row dimension, which is huge,
is what gets distributed). Feature-graph components + oldest-feature
selection then run on the driver over that tiny distance table, reusing
the oracle's exact logic (SURVEY.md §2.4 P2-P5).
"""

from __future__ import annotations

from typing import Dict, Mapping, Sequence

from pyspark.sql import DataFrame


def chebyshev_distances_arrow(
    frame: DataFrame,
    bounds: Mapping[str, object],
    pairs: Sequence[tuple],
) -> Dict[tuple, float]:
    """Binning + pairwise Chebyshev fused into ONE Arrow pass.

    Each partition bins its rows with vectorized ``np.searchsorted``
    (identical semantics to :func:`binning.bin_expression`:
    ``bin = #{b in boundaries : b < v}``) and emits a single row with the
    running max |Δbin| per feature pair; the driver maxes the ≤#partition
    rows. Compared to the expression-tree form this needs no second
    cache, no per-generation janino compile of F bin trees + F(F-1)/2
    aggregate expressions, and stays a distributed reduction (max is
    order-insensitive, so the result is deterministic).
    """
    import numpy as np
    import pandas as pd

    if not pairs:
        return {}
    cols = sorted({c for p in pairs for c in p})
    col_idx = {c: i for i, c in enumerate(cols)}
    boundary_list = [np.asarray(bounds[c], dtype=float) for c in cols]
    pair_idx = [(col_idx[a], col_idx[b]) for a, b in pairs]
    n_pairs = len(pairs)

    def per_partition(batches):
        acc = np.zeros(n_pairs, dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            binned = np.empty((len(pdf), len(cols)), dtype=np.int64)
            for j, c in enumerate(cols):
                binned[:, j] = np.searchsorted(
                    boundary_list[j], pdf[c].to_numpy(dtype=float), side="left"
                )
            for k, (i, j) in enumerate(pair_idx):
                d = int(np.abs(binned[:, i] - binned[:, j]).max())
                if d > acc[k]:
                    acc[k] = d
        if seen:
            yield pd.DataFrame({"d": [acc.astype(float).tolist()]})

    rows = (
        frame.select(*cols)
        .mapInPandas(per_partition, schema="d array<double>")
        .collect()
    )
    if not rows:
        return {pair: 0.0 for pair in pairs}
    maxes = np.max(np.array([r["d"] for r in rows]), axis=0)
    return {pair: float(maxes[k]) for k, pair in enumerate(pairs)}
