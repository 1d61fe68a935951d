"""Spark engine vs reference goldens and vs the numpy oracle (allclose).

The distributed ReFeX must reproduce, per node, the exact feature
vectors of the reference semantics — seed features against the
interface goldens, gen-1 recursion against the extract golden, and full
e2e against the numpy oracle on fixture graphs.
"""

import numpy as np
import pandas as pd
import pytest

from graphrole_spark.operators.recursion import RecursiveFeatureExtractor
from graphrole_spark.operators.seeds import seed_features
from graphrole_spark.oracle.refex import RefexOracle
from tests.conftest import (
    PATH4_EDGES,
    PATH4_GEN1_GOLDEN,
    PATH4_NODES,
    SEVEN_DW_GOLDEN,
    SEVEN_EDGES,
    SEVEN_GOLDEN,
    SEVEN_WEIGHTS,
)


def _edges_df(spark, edges, weights=None):
    w = weights or [1.0] * len(edges)
    rows = [(str(u), str(v), float(wt)) for (u, v), wt in zip(edges, w)]
    return spark.createDataFrame(rows, "src string, dst string, weight double")


def _to_pandas(df):
    pdf = df.toPandas().set_index("node").sort_index()
    return pdf.astype(float)


def test_seed_features_seven_undirected(spark):
    got = _to_pandas(seed_features(_edges_df(spark, SEVEN_EDGES)))
    expected = pd.DataFrame(SEVEN_GOLDEN).astype(float)
    expected.index = [str(i) for i in expected.index]
    pd.testing.assert_frame_equal(
        got.sort_index(axis=1), expected.sort_index().sort_index(axis=1),
        check_names=False,
    )


def test_seed_features_seven_directed_weighted(spark):
    got = _to_pandas(
        seed_features(_edges_df(spark, SEVEN_EDGES, SEVEN_WEIGHTS), directed=True)
    )
    expected = pd.DataFrame(SEVEN_DW_GOLDEN).astype(float)
    expected.index = [str(i) for i in expected.index]
    pd.testing.assert_frame_equal(
        got.sort_index(axis=1), expected.sort_index().sort_index(axis=1),
        check_names=False,
    )


def test_gen1_features_path4_golden(spark):
    rfe = RecursiveFeatureExtractor(_edges_df(spark, PATH4_EDGES))
    # seed state without gen-0 pruning, exactly like the reference test
    seeds = seed_features(rfe.edges)
    rfe._state = seeds
    rfe._generation_dict = {0: dict.fromkeys([c for c in seeds.columns if c != "node"])}
    rfe.generation_count = 1
    got = _to_pandas(rfe._next_features())
    expected = pd.DataFrame(PATH4_GEN1_GOLDEN).sort_index()
    assert np.allclose(
        got.sort_index(axis=1).values,
        expected.sort_index(axis=1).values,
    )


def test_e2e_matches_numpy_oracle_path4(spark):
    sp = RecursiveFeatureExtractor(_edges_df(spark, PATH4_EDGES)).extract_features()
    got = _to_pandas(sp)
    oracle = RefexOracle(PATH4_EDGES).extract_features()
    oracle.index = [str(i) for i in oracle.index]
    assert sorted(got.columns) == sorted(oracle.columns)
    assert np.allclose(
        got.sort_index(axis=1).values, oracle.sort_index(axis=1).values
    )


def test_e2e_matches_numpy_oracle_seven_directed(spark):
    sp = RecursiveFeatureExtractor(
        _edges_df(spark, SEVEN_EDGES, SEVEN_WEIGHTS), directed=True
    ).extract_features()
    got = _to_pandas(sp)
    oracle = RefexOracle(SEVEN_EDGES, weights=SEVEN_WEIGHTS, directed=True)
    exp = oracle.extract_features()
    exp.index = [str(i) for i in exp.index]
    assert sorted(got.columns) == sorted(exp.columns)
    assert np.allclose(
        got.sort_index(axis=1).values, exp.sort_index(axis=1).sort_index().values
    )


def test_dangling_nodes_e2e(spark):
    nodes = spark.createDataFrame([(n,) for n in PATH4_NODES], "node string")
    rfe = RecursiveFeatureExtractor(_edges_df(spark, [("a", "c")]), nodes=nodes)
    feats = _to_pandas(rfe.extract_features())
    assert feats.index.tolist() == PATH4_NODES
    assert feats.notna().all().all()
    oracle = RefexOracle([("a", "c")], nodes=PATH4_NODES).extract_features()
    assert np.allclose(
        feats.sort_index(axis=1).values, oracle.sort_index(axis=1).values
    )


def test_empty_edges_raises(spark):
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    with pytest.raises(ValueError):
        RecursiveFeatureExtractor(empty)


def test_attribute_seed_features(spark):
    attrs = spark.createDataFrame(
        [(str(i), 1.0 if i == 0 else 0.0, float(i)) for i in range(7)],
        "node string, attr1 double, attr2 double",
    )
    got = _to_pandas(
        seed_features(_edges_df(spark, SEVEN_EDGES), node_attributes=attrs)
    )
    assert list(got.columns) == [
        "degree", "attribute_attr1", "attribute_attr2",
        "internal_edges", "external_edges",
    ]
    assert got["attribute_attr2"].tolist() == [float(i) for i in range(7)]


def test_custom_aggs_match_oracle(spark):
    """aggs kwarg (reference: extract.py:26,47): sum/mean/max parity."""
    sp = RecursiveFeatureExtractor(
        _edges_df(spark, SEVEN_EDGES), aggs=("sum", "mean", "max"), max_generations=3
    ).extract_features()
    got = _to_pandas(sp)
    exp = RefexOracle(
        SEVEN_EDGES, aggs=["sum", "mean", "max"], max_generations=3
    ).extract_features()
    exp.index = [str(i) for i in exp.index]
    assert sorted(got.columns) == sorted(exp.columns)
    assert np.allclose(got.sort_index(axis=1).values, exp.sort_index(axis=1).values)


def test_attribute_include_exclude(spark):
    attrs = spark.createDataFrame(
        [(str(i), 1.0, float(i)) for i in range(7)],
        "node string, attr1 double, attr2 double",
    )
    only2 = seed_features(
        _edges_df(spark, SEVEN_EDGES), node_attributes=attrs,
        attributes_include=["attr2"],
    )
    assert "attribute_attr1" not in only2.columns
    assert "attribute_attr2" in only2.columns
    # exclude beats include (reference: README.md:90)
    both = seed_features(
        _edges_df(spark, SEVEN_EDGES), node_attributes=attrs,
        attributes_include=["attr1", "attr2"], attributes_exclude=["attr2"],
    )
    assert "attribute_attr2" not in both.columns
    assert "attribute_attr1" in both.columns


def test_retained_generations_match_oracle(spark):
    rfe = RecursiveFeatureExtractor(_edges_df(spark, SEVEN_EDGES))
    rfe.extract_features()
    oracle = RefexOracle(SEVEN_EDGES)
    oracle.extract_features()
    assert rfe.retained_by_generation() == {
        g: sorted(names) for g, names in oracle.retained_by_generation().items()
    }


def test_generation_step_contract_across_modes(spark, monkeypatch):
    """One generation step, three ways of deciding what to keep: a pruned
    fit measures every generation on a cached state and releases the
    previous one; prune=False and frozen-model replay stay lazy."""
    from graphrole_spark.pipeline import chain_seed_features
    from graphrole_spark.sources.transcripts import synthesize_transcripts

    seeds = chain_seed_features(synthesize_transcripts(spark, 12, seed=5))
    states = []
    update = RecursiveFeatureExtractor._update

    def spy(self, new_frame, gen):
        retained = update(self, new_frame, gen)
        states.append(self._state)
        return retained

    monkeypatch.setattr(RecursiveFeatureExtractor, "_update", spy)

    def run(**kw):
        states.clear()
        rfe = RecursiveFeatureExtractor(
            seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
            max_generations=3, **kw,
        )
        rfe.extract_features()
        return rfe

    fit = run()
    assert len(states) >= 2 and states[-1] is fit._state
    assert fit._state.is_cached
    assert not any(s.is_cached for s in states[:-1])
    assert all("histogram_sec" in e and e["row_count"] for e in fit.lineage)
    fit._state.unpersist()

    lazy = run(prune=False)
    assert not lazy._state.is_cached
    assert not any(s.is_cached for s in states)
    assert all(
        e["row_count"] is None and "histogram_sec" not in e for e in lazy.lineage
    )

    replay = run(model=fit.fitted_model())
    assert not any(s.is_cached for s in states)
    assert all(e["mode"] == "transform" for e in replay.lineage)
    assert [e["retained"] for e in replay.lineage] == [
        e["retained"] for e in fit.lineage
    ]


def test_chain_lookahead_two_rounds_at_depth_4(spark, monkeypatch):
    """A pruned depth-4 chain fit measures generations 1 and 3 inside the
    actions of generations 0 and 2: two histogram and two Chebyshev
    actions instead of four — also with halo-blocked windows and with a
    histogram cap far below the distinct counts, which must not change a
    decision or a value. (Equality with a recursion that measures every
    generation: tests/test_pipeline.py::test_chain_mode_matches_edges_mode.)"""
    from graphrole_spark.operators import recursion
    from graphrole_spark.pipeline import chain_seed_features, with_chain_blocks
    from graphrole_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, 4, seed=42).persist()
    seeds = chain_seed_features(t, attributes_include=["is_user", "turn_pos"])
    calls = {"capped_melt": 0, "chebyshev_distances_arrow": 0}
    for name in calls:
        def counted(*args, _fn=getattr(recursion, name), _name=name, **kw):
            calls[_name] += 1
            return _fn(*args, **kw)

        monkeypatch.setattr(recursion, name, counted)

    def fit(cap, **kw):
        monkeypatch.setattr(recursion, "HISTOGRAM_CAP", cap)
        calls.update(dict.fromkeys(calls, 0))
        rfe = RecursiveFeatureExtractor(
            chain_keys=("conv_id", "turn_idx"), max_generations=4, **kw
        )
        out = rfe.extract_features().toPandas().set_index("node").sort_index()
        assert calls == {"capped_melt": 2, "chebyshev_distances_arrow": 2}
        assert len(rfe.lineage) == 4
        served = rfe.lineage[1::2]
        assert all(e["histogram_sec"] == e["chebyshev_sec"] == 0.0 for e in served)
        generated = {c for e in rfe.lineage for c in e["retained"] + e["dropped"]}
        assert set(rfe.fitted_model().boundaries) == generated
        decisions = [
            (e["retained"], e["dropped"], e["row_count"], e["boundaries"])
            for e in rfe.lineage
        ]
        return decisions, out.drop(columns=["conv_id", "turn_idx"])

    cap = recursion.HISTOGRAM_CAP
    expected, plain = fit(cap, seed_frame=seeds)
    for got, out in (
        fit(cap, seed_frame=with_chain_blocks(seeds, block_size=8, halo=3)),
        fit(5, seed_frame=seeds),
    ):
        assert got == expected
        pd.testing.assert_frame_equal(out, plain)
    t.unpersist()
