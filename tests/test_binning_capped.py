"""Bounded-driver binning: capped melt + exact chunked boundary search.

Property: the capped/chunked path must equal the exact reference
boundaries (``np.unique`` histogram of the raw values + oracle
``bin_boundaries``) for ANY cap ≥ 1 — the chunked loop replays the
reference boundary loop across value-ordered chunks. A synthetic
high-cardinality feature exercises the fallback inside the full
recursion.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from graphrole_spark.operators.binning import capped_melt, chunked_bin_boundaries
from graphrole_spark.oracle.binning import bin_boundaries


def _exact_and_chunked(spark, values, cap):
    values = np.asarray(values, dtype=float)
    exact = bin_boundaries(*np.unique(values, return_counts=True))
    df = spark.createDataFrame(pd.DataFrame({"v": values})).persist()
    try:
        hist = capped_melt(df, ["v"], cap)["v"]
        uniq, _counts, total = hist
        assert total == len(values)
        assert len(uniq) == min(cap, len(np.unique(values)))  # capped chunk
        got = chunked_bin_boundaries(df, "v", hist, cap)
        return exact, got
    finally:
        df.unpersist()


@settings(max_examples=15, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=120
    ),
    cap=st.integers(min_value=1, max_value=30),
)
def test_chunked_boundaries_equal_exact(spark, values, cap):
    exact, got = _exact_and_chunked(spark, values, cap)
    assert np.array_equal(exact, got), (values, cap)


@settings(max_examples=300, deadline=None)
@given(
    values=st.lists(
        st.one_of(  # small integers tie often, floats rarely
            st.integers(min_value=-20, max_value=20).map(float),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=0,
        max_size=200,
    ),
)
def test_complete_histogram_needs_no_frame(values):
    """A complete first chunk resolves every boundary driver-side: with
    no frame to fetch from (``features=None``) the result still equals
    the oracle's, dtype included."""
    uniq, counts = np.unique(np.asarray(values, dtype=float), return_counts=True)
    exact = bin_boundaries(uniq, counts)
    got = chunked_bin_boundaries(None, "v", (uniq, counts, int(counts.sum())))
    assert got.dtype == exact.dtype
    assert np.array_equal(exact, got), values


def test_high_cardinality_falls_back_and_matches(spark):
    rng = np.random.RandomState(7)
    vals = np.round(rng.uniform(0, 1000, 5000), 6)  # ~5000 distinct
    exact, got = _exact_and_chunked(spark, vals, cap=500)
    assert np.array_equal(exact, got)


def test_recursion_completes_with_tiny_cap(spark, monkeypatch):
    """Full extractor run with a cap far below the distinct counts —
    results must be identical to the uncapped run."""
    from graphrole_spark.operators import recursion
    from graphrole_spark.pipeline import chain_seed_features
    from graphrole_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, 25, seed=3).persist()
    seeds = chain_seed_features(t, with_attributes=True)

    def run(cap):
        monkeypatch.setattr(recursion, "HISTOGRAM_CAP", cap)
        rfe = recursion.RecursiveFeatureExtractor(
            seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
            max_generations=3,
        )
        out = rfe.extract_features().toPandas().set_index(["conv_id", "turn_idx"])
        return rfe.retained_by_generation(), out.sort_index()

    ret_small, small = run(cap=5)
    ret_full, full = run(cap=1_000_000)
    t.unpersist()
    assert ret_small == ret_full
    assert sorted(small.columns) == sorted(full.columns)
    assert np.allclose(
        small.sort_index(axis=1).drop(columns=["node"]).values,
        full.sort_index(axis=1).drop(columns=["node"]).values,
    )
