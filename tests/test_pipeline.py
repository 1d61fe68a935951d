"""Transcript pipeline: closed-form seeds, zero temporal leakage, resume."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrole_spark.operators.recursion import RecursiveFeatureExtractor
from graphrole_spark.operators.seeds import seed_features
from graphrole_spark.pipeline import chain_seed_features, extract_transcript_features
from graphrole_spark.sources.transcripts import derive_edges, synthesize_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthesize_transcripts(spark, 30, seed=42).persist()


def test_closed_form_seeds_match_generic(spark, transcripts):
    """The window-function closed forms must equal the generic 2-hop
    join seeds on the derived lag-1 chain."""
    closed = (
        chain_seed_features(transcripts, with_attributes=False)
        .select("node", "degree", "internal_edges", "external_edges")
        .toPandas()
        .set_index("node")
        .sort_index()
    )
    generic = (
        seed_features(derive_edges(transcripts, lag_k=1))
        .toPandas()
        .set_index("node")
        .sort_index()
    )
    pd.testing.assert_frame_equal(
        closed.sort_index(axis=1), generic.sort_index(axis=1), check_dtype=False
    )


def test_zero_temporal_leakage(spark, transcripts):
    """Features at cutoff t == features recomputed on the physical prefix."""
    cutoff = transcripts.selectExpr("percentile(cast(ts as double), 0.6) p").collect()[
        0
    ]["p"]
    cutoff_ts = pd.Timestamp(cutoff, unit="s")

    full_at_cutoff = extract_transcript_features(
        transcripts, cutoff_ts=cutoff_ts, max_generations=3
    ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()

    prefix = transcripts.where(F.col("ts") <= F.lit(cutoff_ts))
    recomputed = extract_transcript_features(
        prefix, max_generations=3
    ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()

    assert sorted(full_at_cutoff.columns) == sorted(recomputed.columns)
    assert full_at_cutoff.shape == recomputed.shape
    assert np.allclose(
        full_at_cutoff.sort_index(axis=1).values,
        recomputed.sort_index(axis=1).values,
    )


def test_per_turn_text_equality_round_trip(spark, transcripts):
    """input_hint invariant: joining features back to the transcripts
    preserves per-turn text exactly under (conv_id, turn_idx) ordering."""
    feats = extract_transcript_features(transcripts, max_generations=2)
    joined = (
        transcripts.join(feats, ["conv_id", "turn_idx"], "left")
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    original = (
        transcripts.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    pd.testing.assert_frame_equal(joined, original)


def test_checkpoint_resume(spark, transcripts, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    edges = derive_edges(transcripts, lag_k=1)
    rfe = RecursiveFeatureExtractor(edges, checkpoint_dir=ckpt, max_generations=3)
    expected = rfe.extract_features().toPandas().set_index("node").sort_index()
    assert os.path.exists(os.path.join(ckpt, "_lineage.json"))
    assert rfe.lineage and all("rows_per_sec" in g for g in rfe.lineage)

    # resume from the written checkpoints: must reproduce without rerunning
    resumed = RecursiveFeatureExtractor.resume(
        spark, ckpt, edges, max_generations=3
    )
    got = resumed.extract_features().toPandas().set_index("node").sort_index()
    pd.testing.assert_frame_equal(
        got.sort_index(axis=1), expected.sort_index(axis=1)
    )


def test_checkpoint_resume_chain_blocked(spark, transcripts, tmp_path):
    """Resumability in blocked chain mode: a finished checkpointed run
    is reproduced from disk, halo bookkeeping included."""
    from graphrole_spark.pipeline import chain_seed_features, with_chain_blocks

    ckpt = str(tmp_path / "ckpt_chain")
    seeds = with_chain_blocks(
        chain_seed_features(transcripts, with_attributes=False),
        block_size=16, halo=2,
    )
    rfe = RecursiveFeatureExtractor(
        seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
        max_generations=3, checkpoint_dir=ckpt,
    )
    expected = (
        rfe.extract_features().toPandas().set_index("node").sort_index()
    )
    assert rfe.lineage and "partition_rows" in rfe.lineage[0]

    resumed = RecursiveFeatureExtractor.resume(spark, ckpt, max_generations=3)
    got = resumed.extract_features().toPandas().set_index("node").sort_index()
    import pandas as pd_

    pd_.testing.assert_frame_equal(
        got.sort_index(axis=1), expected.sort_index(axis=1)
    )


def test_resume_manifest_roundtrip_and_continuation(spark, transcripts, tmp_path):
    """A bare ``resume(spark, dir)`` continues with the fitted run's OWN
    settings (aggs/depth read from the manifest), and a killed run
    restarts at the first incomplete generation: checkpoint a
    2-generation run, mark it unfinished, resume to depth 4 — the result
    must equal a straight 4-generation fit."""
    import json as _json

    seeds = chain_seed_features(transcripts, with_attributes=False)
    ckpt = str(tmp_path / "ckpt_cont")
    rfe2 = RecursiveFeatureExtractor(
        seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
        max_generations=2, aggs=("sum",), checkpoint_dir=ckpt,
    )
    expected2 = rfe2.extract_features().toPandas().set_index("node").sort_index()

    bare = RecursiveFeatureExtractor.resume(spark, ckpt)
    assert bare.aggs == ["sum"]
    assert bare.max_generations == 2
    got2 = bare.extract_features().toPandas().set_index("node").sort_index()
    pd.testing.assert_frame_equal(
        got2.sort_index(axis=1), expected2.sort_index(axis=1)
    )

    # simulate a kill after generation 1 of a deeper run: flip done
    man_path = os.path.join(ckpt, "_lineage.json")
    with open(man_path) as fh:
        manifest = _json.load(fh)
    manifest["done"] = False
    with open(man_path, "w") as fh:
        _json.dump(manifest, fh)
    resumed = RecursiveFeatureExtractor.resume(spark, ckpt, max_generations=4)
    straight = RecursiveFeatureExtractor(
        seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
        max_generations=4, aggs=("sum",),
    )
    keys = ["conv_id", "turn_idx"]
    got = resumed.extract_features().toPandas().set_index(
        "node").drop(columns=keys).sort_index()
    want = straight.extract_features().toPandas().set_index(
        "node").drop(columns=keys).sort_index()
    assert resumed.retained_by_generation() == straight.retained_by_generation()
    assert np.allclose(
        got.sort_index(axis=1).values, want.sort_index(axis=1).values
    )

    # extension of a FINISHED run: the previous resume rewrote the
    # manifest as done at depth 4; asking for depth 6 must continue
    # from the last checkpoint and match a straight 6-generation fit
    extended = RecursiveFeatureExtractor.resume(spark, ckpt, max_generations=6)
    straight6 = RecursiveFeatureExtractor(
        seed_frame=seeds, chain_keys=("conv_id", "turn_idx"),
        max_generations=6, aggs=("sum",),
    )
    got6 = extended.extract_features().toPandas().set_index(
        "node").drop(columns=keys).sort_index()
    want6 = straight6.extract_features().toPandas().set_index(
        "node").drop(columns=keys).sort_index()
    assert extended.retained_by_generation() == straight6.retained_by_generation()
    assert np.allclose(
        got6.sort_index(axis=1).values, want6.sort_index(axis=1).values
    )


def test_run_pipeline_cli_fit_and_resume(spark, tmp_path, monkeypatch):
    """The spark-submit entry point's --resume flag reproduces the fit
    output from the checkpoint directory alone (no --input rescan)."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_cli",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out1, out2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    ckpt = str(tmp_path / "ck")
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--synthesize", "25", "--output", out1,
        "--checkpoint", ckpt, "--generations", "3",
    ])
    mod.main()
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--resume", "--checkpoint", ckpt, "--output", out2,
    ])
    mod.main()
    a = spark.read.parquet(out1).toPandas().set_index(
        ["conv_id", "turn_idx"]).sort_index()
    b = spark.read.parquet(out2).toPandas().set_index(
        ["conv_id", "turn_idx"]).sort_index()
    pd.testing.assert_frame_equal(a.sort_index(axis=1), b.sort_index(axis=1))


def test_chain_mode_matches_edges_mode(spark, transcripts):
    """The window-function recursion (chain mode) must produce exactly
    the same features as the generic join-based recursion on the same
    lag-1 graph — same retained names, allclose values."""
    seeds = chain_seed_features(transcripts, with_attributes=False)
    chain_rfe = RecursiveFeatureExtractor(
        seed_frame=seeds, chain_keys=("conv_id", "turn_idx"), max_generations=4
    )
    chain = (
        chain_rfe.extract_features()
        .toPandas()
        .set_index("node")
        .drop(columns=["conv_id", "turn_idx"])
        .sort_index()
    )

    edges = derive_edges(transcripts, lag_k=1)
    edges_rfe = RecursiveFeatureExtractor(edges, max_generations=4)
    generic = edges_rfe.extract_features().toPandas().set_index("node").sort_index()

    assert chain_rfe.retained_by_generation() == edges_rfe.retained_by_generation()
    assert sorted(chain.columns) == sorted(generic.columns)
    assert np.allclose(
        chain.sort_index(axis=1).values, generic.sort_index(axis=1).values
    )


def _cutoffs(transcripts):
    qs = transcripts.selectExpr(
        "percentile(cast(ts as double), 0.5) p50",
        "percentile(cast(ts as double), 1.0) p100",
    ).collect()[0]
    return [pd.Timestamp(qs["p50"], unit="s"), pd.Timestamp(qs["p100"], unit="s")]


def test_multi_cutoff_features_per_run(spark, transcripts):
    """entity×timestamp surface, per-cutoff runs: each slice equals its
    standalone point-in-time run exactly."""
    from graphrole_spark.pipeline import extract_features_at_cutoffs

    cutoffs = _cutoffs(transcripts)
    multi = extract_features_at_cutoffs(
        transcripts, cutoffs, share_scan=False, max_generations=2
    )
    pdf = multi.toPandas()
    got_cutoffs = {pd.Timestamp(c) for c in pdf["cutoff_ts"].unique()}
    assert got_cutoffs == set(cutoffs)
    solo = (
        extract_transcript_features(transcripts, cutoff_ts=cutoffs[0], max_generations=2)
        .toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
    )
    sliced = (
        pdf[pdf.cutoff_ts.apply(pd.Timestamp) == cutoffs[0]]
        .drop(columns=["cutoff_ts"])
        .set_index(["conv_id", "turn_idx"]).sort_index()
    )
    shared = sorted(solo.columns)
    assert np.allclose(sliced[shared].values, solo[shared].values)


def test_multi_cutoff_features_shared_scan(spark, transcripts):
    """Shared-scan mode: one recursion for all cutoffs. Zero leakage by
    construction; features retained in BOTH the shared run and a
    standalone run carry identical values; schema is uniform."""
    from graphrole_spark.pipeline import extract_features_at_cutoffs

    cutoffs = _cutoffs(transcripts)
    multi = extract_features_at_cutoffs(
        transcripts, cutoffs, share_scan=True, max_generations=2
    )
    pdf = multi.toPandas()
    assert {pd.Timestamp(c) for c in pdf["cutoff_ts"].unique()} == set(cutoffs)

    for cutoff in cutoffs:
        solo = (
            extract_transcript_features(
                transcripts, cutoff_ts=cutoff, max_generations=2
            ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
        )
        sliced = (
            pdf[pdf.cutoff_ts.apply(pd.Timestamp) == cutoff]
            .drop(columns=["cutoff_ts"])
            .set_index(["conv_id", "turn_idx"]).sort_index()
        )
        assert sliced.shape[0] == solo.shape[0]  # same entity set per cutoff
        common = sorted(set(solo.columns) & set(sliced.columns))
        assert "degree" in common and len(common) >= 3
        assert np.allclose(sliced[common].values, solo[common].values)


def test_roles_at_cutoffs(spark, transcripts):
    """north_star surface: role memberships per entity×timestamp. One
    joint NMF over all (entity, cutoff) rows — labels comparable across
    cutoffs; features underneath are the leakage-free multi-cutoff
    frame."""
    from graphrole_spark.pipeline import (
        extract_features_at_cutoffs,
        extract_roles_at_cutoffs,
    )

    cutoffs = _cutoffs(transcripts)
    hard = extract_roles_at_cutoffs(
        transcripts, cutoffs, n_roles=3, max_generations=2
    ).toPandas()
    assert set(hard.columns) == {"conv_id", "turn_idx", "cutoff_ts", "role"}
    assert hard.role.notna().all()
    assert {pd.Timestamp(c) for c in hard.cutoff_ts.unique()} == set(cutoffs)
    n_feat_rows = extract_features_at_cutoffs(
        transcripts, cutoffs, max_generations=2
    ).count()
    assert len(hard) == n_feat_rows

    soft = extract_roles_at_cutoffs(
        transcripts, cutoffs, n_roles=3, soft=True, max_generations=2
    ).toPandas()
    role_cols = [c for c in soft.columns if c.startswith("role_")]
    assert len(role_cols) == 3
    assert np.allclose(soft[role_cols].sum(axis=1), 1.0)


def test_roles_at_cutoffs_conv_id_with_hash(spark):
    """Membership keys decode from the right: a conv_id holding '#' comes
    back whole (a left split would cast a piece of it to int, which ANSI
    mode rejects)."""
    from graphrole_spark.pipeline import extract_roles_at_cutoffs

    t = synthesize_transcripts(spark, 6, seed=3)
    first = t.agg(F.min("conv_id")).first()[0]
    t = t.withColumn(
        "conv_id",
        F.when(F.col("conv_id") == first, F.lit("a#b")).otherwise(F.col("conv_id")),
    ).persist()
    cutoffs = _cutoffs(t)
    got = extract_roles_at_cutoffs(t, cutoffs, n_roles=2, max_generations=2).toPandas()
    turns = t.select("conv_id", "turn_idx").toPandas()
    t.unpersist()
    assert {pd.Timestamp(c) for c in got.cutoff_ts.unique()} == set(cutoffs)
    last = got[got.cutoff_ts.apply(pd.Timestamp) == max(cutoffs)]
    assert sorted(zip(last.conv_id, last.turn_idx)) == sorted(
        zip(turns.conv_id, turns.turn_idx)
    )
    assert (got.conv_id == "a#b").any()


def test_blocked_chain_mode_matches_unblocked(spark):
    """Skew-bounded (halo-blocked) chain windows must produce exactly
    the whole-conversation result: same retained names, allclose values
    — on a heavy-tailed input whose longest conversation spans many
    blocks."""
    t = synthesize_transcripts(
        spark, 40, seed=11, heavy_tail_every=5, heavy_tail_factor=20
    ).persist()
    plain = (
        extract_transcript_features(t, max_generations=4)
        .toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
    )
    blocked = (
        extract_transcript_features(t, max_generations=4, chain_block_size=16)
        .toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
    )
    t.unpersist()
    assert sorted(plain.columns) == sorted(blocked.columns)
    assert plain.shape == blocked.shape
    assert np.allclose(
        plain.sort_index(axis=1).values, blocked.sort_index(axis=1).values
    )


def test_with_chain_blocks_guards(spark):
    from graphrole_spark.pipeline import with_chain_blocks, chain_seed_features

    t = synthesize_transcripts(spark, 5, seed=1)
    seeds = chain_seed_features(t, with_attributes=False)
    with pytest.raises(ValueError):
        with_chain_blocks(seeds, block_size=3, halo=3)  # halo may not span blocks
    out = with_chain_blocks(seeds, block_size=8, halo=2).toPandas()
    own = out[out.__own]
    assert len(own) == seeds.count()  # every source row owned exactly once
    # halo copies are bounded: at most 2 extra copies per row
    assert len(out) <= 3 * len(own)


def test_blocked_mode_needs_both_marker_columns(spark):
    """Blocked chain mode is read from the seed frame: the block and
    owner columns come together or not at all."""
    from graphrole_spark.pipeline import with_chain_blocks, chain_seed_features

    seeds = chain_seed_features(synthesize_transcripts(spark, 3, seed=1))
    blocked = with_chain_blocks(seeds, block_size=8, halo=2)
    for half in (blocked.drop("__blk"), blocked.drop("__own")):
        with pytest.raises(ValueError, match="blocked chain mode"):
            RecursiveFeatureExtractor(
                seed_frame=half, chain_keys=("conv_id", "turn_idx")
            )


def test_chain_attribute_include_exclude(spark, transcripts):
    """Reference attribute selection contract on the transcript path:
    include list narrows, exclude wins over include (README.md:90)."""
    from graphrole_spark.pipeline import chain_seed_features

    both = chain_seed_features(
        transcripts,
        attributes_include=["text_len", "is_tool"],
        attributes_exclude=["is_tool"],
    )
    attrs = [c for c in both.columns if c.startswith("attribute_")]
    assert attrs == ["attribute_text_len"]


def test_empty_and_single_row_inputs(spark):
    """Degenerate inputs flow through the full pipeline."""
    t3 = synthesize_transcripts(spark, 3, seed=1)
    empty = t3.where(F.lit(False))
    out = extract_transcript_features(empty, max_generations=3)
    assert out.count() == 0
    single = synthesize_transcripts(spark, 1, seed=1).limit(1)
    out1 = extract_transcript_features(single, max_generations=3)
    assert out1.count() == 1


def test_entry_rowcount_positive(spark, transcripts):
    feats = extract_transcript_features(transcripts, max_generations=2)
    n = feats.count()
    assert n == transcripts.count()
    assert feats.filter(F.col("degree").isNull()).count() == 0
