"""Streaming feature-store maintenance: foreachBatch incremental
updates under a frozen model, bucket-partitioned store.

Pinned contracts:
1. after draining N micro-batches of appends, the store equals a full
   frozen-model transform of the accumulated table, bit-identical;
2. only dirty bucket partitions are rewritten (clean partitions keep
   their files untouched) — the O(dirty), not O(store), write path.
"""

import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphrole_spark.pipeline import (
    fit_transcript_features,
    transform_transcript_features,
)
from graphrole_spark.sources.transcripts import synthesize_transcripts
from graphrole_spark.streaming.maintenance import (
    apply_delta,
    bootstrap_feature_store,
    maintain_available_now,
    read_features,
)

N_BUCKETS = 16


def _sorted(df):
    pdf = df.toPandas()
    cols = ["conv_id", "turn_idx"] + sorted(
        c for c in pdf.columns if c not in ("conv_id", "turn_idx")
    )
    return pdf[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_streaming_maintenance_matches_full_transform(spark, tmp_path):
    full = synthesize_transcripts(spark, 50, seed=21).persist()
    w = Window.partitionBy("conv_id")
    t = full.withColumn("__n", F.count("*").over(w))
    grp = F.pmod(F.xxhash64("conv_id", F.lit(77)), F.lit(5))
    is_d1 = (grp == 0) & (F.col("turn_idx") >= F.col("__n") - 2)
    is_d2 = (grp == 1) & (F.col("turn_idx") >= F.col("__n") - 3)
    delta1 = t.where(is_d1).drop("__n").persist()
    delta2 = t.where(is_d2).drop("__n").persist()
    base = t.where(~is_d1 & ~is_d2).drop("__n").persist()
    assert delta1.count() > 0 and delta2.count() > 0

    _, model = fit_transcript_features(base, max_generations=3)

    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=N_BUCKETS)

    # stage the two deltas as two files in the stream source dir
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    for i, d in enumerate((delta1, delta2)):
        staged = str(tmp_path / f"stage{i}")
        d.coalesce(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"delta{i}.parquet"))

    # snapshot clean-partition state to assert the O(dirty) write path
    dirty_buckets = {
        r[0]
        for r in delta1.unionByName(delta2)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int"))
        .distinct()
        .collect()
    }
    feat_dir = os.path.join(store, "features")
    before = {
        d: sorted(os.listdir(os.path.join(feat_dir, d)))
        for d in os.listdir(feat_dir)
        if d.startswith("__bucket=")
    }

    n_batches = maintain_available_now(
        spark, src, model, store, n_buckets=N_BUCKETS,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert n_batches == 2

    got = _sorted(read_features(spark, store))
    expected = _sorted(transform_transcript_features(full, model))
    assert list(got.columns) == list(expected.columns)
    pd.testing.assert_frame_equal(got, expected)

    after = {
        d: sorted(os.listdir(os.path.join(feat_dir, d)))
        for d in os.listdir(feat_dir)
        if d.startswith("__bucket=")
    }
    clean = [
        d for d in before
        if int(d.split("=")[1]) not in dirty_buckets
    ]
    assert clean, "fixture must leave some buckets untouched"
    for d in clean:
        assert before[d] == after[d], f"clean partition {d} was rewritten"


def test_apply_delta_noop_on_empty(spark, tmp_path):
    base = synthesize_transcripts(spark, 10, seed=3)
    _, model = fit_transcript_features(base, max_generations=2)
    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=4)
    before = _sorted(read_features(spark, store))
    apply_delta(spark, base.limit(0), model, store, n_buckets=4)
    after = _sorted(read_features(spark, store))
    pd.testing.assert_frame_equal(before, after)


def test_apply_delta_idempotent_under_replay(spark, tmp_path):
    """ADVICE r02: foreachBatch is at-least-once — re-applying the same
    delta (crash-retry) must not duplicate turns or corrupt features."""
    full = synthesize_transcripts(spark, 20, seed=9).persist()
    w = Window.partitionBy("conv_id")
    t = full.withColumn("__n", F.count("*").over(w))
    is_delta = (F.pmod(F.xxhash64("conv_id", F.lit(5)), F.lit(4)) == 0) & (
        F.col("turn_idx") >= F.col("__n") - 2
    )
    delta = t.where(is_delta).drop("__n").persist()
    base = t.where(~is_delta).drop("__n").persist()
    assert delta.count() > 0

    _, model = fit_transcript_features(base, max_generations=2)
    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=4)

    apply_delta(spark, delta, model, store, n_buckets=4)
    once = _sorted(read_features(spark, store))
    turns_once = spark.read.parquet(os.path.join(store, "turns")).count()

    # replay the identical batch (simulated retry after a crash between
    # the turns append and the feature overwrite)
    apply_delta(spark, delta, model, store, n_buckets=4)
    twice = _sorted(read_features(spark, store))
    turns_twice = spark.read.parquet(os.path.join(store, "turns")).count()

    assert turns_once == turns_twice, "replayed delta duplicated turns"
    pd.testing.assert_frame_equal(once, twice)
    expected = _sorted(transform_transcript_features(full, model))
    pd.testing.assert_frame_equal(twice, expected)


def test_apply_delta_rejects_other_n_buckets(spark, tmp_path):
    """``n_buckets`` is pinned at bootstrap: a delta bucketed differently
    would land conversations in partitions the store never reads back.
    A fresh bootstrap rewrites the store and re-pins."""
    base = synthesize_transcripts(spark, 10, seed=3)
    _, model = fit_transcript_features(base, max_generations=2)
    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=4)
    before = _sorted(read_features(spark, store))
    with pytest.raises(ValueError, match="n_buckets"):
        apply_delta(spark, base.limit(3), model, store, n_buckets=8)
    pd.testing.assert_frame_equal(_sorted(read_features(spark, store)), before)
    bootstrap_feature_store(spark, base, model, store, n_buckets=8)
    apply_delta(spark, base.limit(0), model, store, n_buckets=8)


def test_apply_delta_restores_interrupted_compaction(spark, tmp_path):
    """A compaction that crashed between its two renames leaves a
    substore under ``<sub>.__old__``; the next micro-batch must restore
    it, not fail on the missing path or start ``turns/`` over from the
    delta alone."""
    from graphrole_spark.streaming.compaction import compact_store

    full = synthesize_transcripts(spark, 20, seed=13).persist()
    w = Window.partitionBy("conv_id")
    t = full.withColumn("__n", F.count("*").over(w))
    grp = F.pmod(F.xxhash64("conv_id", F.lit(3)), F.lit(4))
    is_d1 = (grp == 0) & (F.col("turn_idx") >= F.col("__n") - 2)
    is_d2 = (grp == 1) & (F.col("turn_idx") >= F.col("__n") - 2)
    delta1 = t.where(is_d1).drop("__n").persist()
    delta2 = t.where(is_d2).drop("__n").persist()
    base = t.where(~is_d1 & ~is_d2).drop("__n").persist()
    assert delta1.count() > 0 and delta2.count() > 0

    _, model = fit_transcript_features(base, max_generations=2)
    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=4)
    compact_store(spark, store)

    for sub, delta in (("turns", delta1), ("features", delta2)):
        path = os.path.join(store, sub)
        os.rename(path, path + ".__old__")
        apply_delta(spark, delta, model, store, n_buckets=4)
        assert os.path.isdir(path)
        assert not glob.glob(os.path.join(store, "*.__old__"))

    got = _sorted(read_features(spark, store))
    expected = _sorted(transform_transcript_features(full, model))
    pd.testing.assert_frame_equal(got, expected)


def test_maintain_available_now_calls_apply_delta_per_file(
    spark, tmp_path, monkeypatch
):
    """The drain loop resolves ``maintenance.apply_delta`` at call time
    (a wrapper installed on the module sees every micro-batch) and
    returns the number of micro-batches — one per append file here."""
    from graphrole_spark.streaming import maintenance

    full = synthesize_transcripts(spark, 10, seed=3).persist()
    w = Window.partitionBy("conv_id")
    t = full.withColumn("__n", F.count("*").over(w))
    is_delta = F.col("turn_idx") >= F.col("__n") - 1
    base = t.where(~is_delta).drop("__n")
    _, model = fit_transcript_features(base, max_generations=2)
    store = str(tmp_path / "store")
    bootstrap_feature_store(spark, base, model, store, n_buckets=4)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    last = t.where(is_delta).drop("__n")
    halves = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for i in range(2):
        staged = str(tmp_path / f"stage{i}")
        last.where(halves == i).coalesce(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"delta{i}.parquet"))

    calls = []
    real = maintenance.apply_delta

    def counting(*args, **kwargs):
        calls.append(args[3])
        return real(*args, **kwargs)

    monkeypatch.setattr(maintenance, "apply_delta", counting)
    n = maintenance.maintain_available_now(
        spark, src, model, store, n_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert calls == [store, store]
    assert n == len(calls)
    pd.testing.assert_frame_equal(
        _sorted(read_features(spark, store)),
        _sorted(transform_transcript_features(full, model)),
    )
