"""Fit/transform split + incremental update (FeatureModel).

The contracts these tests pin:

1. transform(X, fit(X).model) is BIT-IDENTICAL to fit(X) — replaying
   the frozen pruning decisions reproduces the fitted features exactly;
2. incremental update (recompute only conversations touched by an
   append, reuse checkpointed features for the rest) equals a full
   transform of the updated table under the same model;
3. the model round-trips through JSON and through a checkpoint's
   ``_lineage.json``;
4. config drift between fit and transform raises, not corrupts.
"""

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphrole_spark.operators.model import FeatureModel
from graphrole_spark.pipeline import (
    extract_transcript_features,
    fit_transcript_features,
    transform_transcript_features,
    update_transcript_features,
)
from graphrole_spark.sources.transcripts import synthesize_transcripts


def _sorted_pdf(df):
    pdf = df.toPandas()
    cols = ["conv_id", "turn_idx"] + sorted(
        c for c in pdf.columns if c not in ("conv_id", "turn_idx")
    )
    return (
        pdf[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def turns(spark):
    return synthesize_transcripts(spark, 60, seed=11).persist()


def test_transform_replays_fit_exactly(spark, turns):
    fitted, model = fit_transcript_features(turns, max_generations=3)
    assert model.max_generation >= 1
    assert model.boundaries  # audit record present
    replayed = transform_transcript_features(turns, model)
    a, b = _sorted_pdf(fitted), _sorted_pdf(replayed)
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a, b)


def test_model_json_round_trip(tmp_path, turns):
    _, model = fit_transcript_features(turns, max_generations=3)
    p = str(tmp_path / "model.json")
    model.save(p)
    loaded = FeatureModel.load(p)
    assert loaded.generations == model.generations
    assert loaded.aggs == model.aggs
    assert loaded.boundaries == model.boundaries


def test_model_from_checkpoint(spark, tmp_path, turns):
    ck = str(tmp_path / "ck")
    feats, model = fit_transcript_features(
        turns, max_generations=3, checkpoint_dir=ck
    )
    feats.count()
    restored = FeatureModel.from_checkpoint(ck)
    assert restored.generations == model.generations
    assert restored.aggs == model.aggs
    assert restored.boundaries == model.boundaries


def test_resumed_fit_model_equals_straight_fit(spark, tmp_path):
    """A fit killed after generation 1 and resumed to depth 4 yields the
    same frozen model as a straight depth-4 fit — boundaries of the
    columns generated before the resume included."""
    import json

    from graphrole_spark.operators.recursion import RecursiveFeatureExtractor

    t = synthesize_transcripts(spark, 25, seed=11).persist()
    ck = str(tmp_path / "ck")
    fit_transcript_features(t, max_generations=2, checkpoint_dir=ck)
    manifest_path = f"{ck}/_lineage.json"
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    manifest["done"] = False
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    resumed = RecursiveFeatureExtractor.resume(spark, ck, max_generations=4)
    _, straight = fit_transcript_features(t, max_generations=4)
    t.unpersist()
    generated = {c for e in resumed.lineage for c in e["retained"] + e["dropped"]}
    assert set(resumed.fitted_model().boundaries) == generated
    assert resumed.fitted_model().to_dict() == straight.to_dict()
    assert FeatureModel.from_checkpoint(ck).to_dict() == straight.to_dict()


def test_incremental_update_equals_full_transform(spark, turns):
    # split: the last 3 turns of every 4th conversation arrive "later"
    last3 = F.col("turn_idx") >= F.col("__n") - 3
    every4 = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0
    w = turns.withColumn(
        "__n", F.count("*").over(Window.partitionBy("conv_id"))
    )
    delta = w.where(every4 & last3).drop("__n").persist()
    base = w.where(~(every4 & last3)).drop("__n").persist()
    assert delta.count() > 0

    feats0, model = fit_transcript_features(base, max_generations=3)
    updated = update_transcript_features(turns, delta, feats0, model)
    expected = transform_transcript_features(turns, model)

    a, b = _sorted_pdf(updated), _sorted_pdf(expected)
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a, b)


def test_incremental_update_with_new_conversations(spark, turns):
    """A delta containing entirely NEW conversations (not just appended
    turns) must also land: the semi join recomputes them, the anti join
    keeps everything else."""
    new_convs = synthesize_transcripts(spark, 80, seed=99).where(
        F.col("conv_id").isin(
            [r.conv_id for r in
             synthesize_transcripts(spark, 80, seed=99)
             .select("conv_id").distinct().limit(10).collect()]
        )
    ).withColumn("conv_id", F.concat(F.lit("new_"), "conv_id"))
    full = turns.unionByName(new_convs)

    feats0, model = fit_transcript_features(turns, max_generations=3)
    updated = update_transcript_features(full, new_convs, feats0, model)
    expected = transform_transcript_features(full, model)

    a, b = _sorted_pdf(updated), _sorted_pdf(expected)
    assert a.conv_id.str.startswith("new_").sum() > 0
    pd.testing.assert_frame_equal(a, b)


def test_transform_composes_with_multi_cutoff(spark, turns):
    """Frozen model + entity×timestamp surface: the multi-cutoff shared
    scan accepts model= and each cutoff slice equals the standalone
    point-in-time transform (leakage-free serve path)."""
    from graphrole_spark.pipeline import extract_features_at_cutoffs

    _, model = fit_transcript_features(turns, max_generations=3)
    qs = turns.selectExpr(
        "percentile(cast(ts as double), 0.5) p50",
        "percentile(cast(ts as double), 1.0) p100",
    ).collect()[0]
    cutoffs = [pd.Timestamp(qs["p50"], unit="s"), pd.Timestamp(qs["p100"], unit="s")]
    multi = extract_features_at_cutoffs(turns, cutoffs, model=model).toPandas()

    solo = transform_transcript_features(
        turns.where(F.col("ts") <= F.lit(cutoffs[0])), model
    ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
    sliced = (
        multi[multi.cutoff_ts.apply(pd.Timestamp) == cutoffs[0]]
        .drop(columns=["cutoff_ts"])
        .set_index(["conv_id", "turn_idx"]).sort_index()
    )
    assert sorted(sliced.columns) == sorted(solo.columns)
    import numpy as np

    assert np.allclose(
        sliced[sorted(sliced.columns)].values, solo[sorted(solo.columns)].values
    )


def test_edges_mode_transform_replays_fit(spark):
    """Frozen-model replay must also hold on the graph front door
    (edges mode, the reference's entry point), not just chain mode."""
    from graphrole_spark.operators.recursion import RecursiveFeatureExtractor
    from tests.conftest import SEVEN_EDGES, SEVEN_WEIGHTS

    rows = [
        (str(u), str(v), float(w))
        for (u, v), w in zip(SEVEN_EDGES, SEVEN_WEIGHTS)
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    rfe = RecursiveFeatureExtractor(edges, max_generations=3)
    fitted = rfe.extract_features().toPandas().set_index("node").sort_index()
    model = rfe.fitted_model()

    replay = (
        RecursiveFeatureExtractor(edges, model=model)
        .extract_features().toPandas().set_index("node").sort_index()
    )
    assert list(fitted.columns) == list(replay.columns)
    pd.testing.assert_frame_equal(fitted, replay)


def test_transform_rejects_drifted_config(spark, turns):
    _, model = fit_transcript_features(turns, max_generations=3)
    with pytest.raises(ValueError, match="drift"):
        # attributes off: the seed columns the model retains don't exist
        transform_transcript_features(
            turns, model, with_attributes=False
        ).count()


def test_transform_is_single_lazy_plan(spark, turns):
    """Chain-mode transform must add no driver actions: the extractor's
    lineage records every generation as a lazy 'transform' entry."""
    feats, model = fit_transcript_features(turns, max_generations=3)
    out, rfe = extract_transcript_features(
        turns, model=model, return_extractor=True
    )
    assert all(e.get("mode") == "transform" for e in rfe.lineage)
    # no histogram/chebyshev timing keys = no per-generation actions ran
    assert not any("histogram_sec" in e for e in rfe.lineage)
    out.count()
