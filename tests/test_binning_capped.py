"""Bounded-driver binning: capped melt + exact chunked boundary search.

Property: the capped/chunked path must equal the exact full-histogram
path for ANY cap ≥ 1 (the chunked loop replays the reference boundary
loop across value-ordered chunks). A synthetic high-cardinality feature
exercises the fallback inside the full recursion.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphrole_spark.operators.binning import (
    capped_melt,
    chunked_bin_boundaries,
    melt_histogram,
)
from graphrole_spark.oracle.binning import bin_boundaries


def _exact_and_chunked(spark, values, cap, frac=0.5):
    pdf = pd.DataFrame({"v": np.asarray(values, dtype=float)})
    df = spark.createDataFrame(pdf).persist()
    try:
        (uniq, counts) = melt_histogram(df, ["v"])["v"]
        exact = bin_boundaries(uniq, counts, frac=frac)

        complete, truncated = capped_melt(df, ["v"], cap)
        if "v" in complete:
            u, c = complete["v"]
            got = bin_boundaries(u, c, frac=frac)
        else:
            u, c, total = truncated["v"]
            assert len(u) == cap  # first chunk really is capped
            got = chunked_bin_boundaries(df, "v", total, (u, c), frac=frac, cap=cap)
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
