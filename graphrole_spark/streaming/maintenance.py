"""Continuous feature maintenance: streaming appends → incremental
feature-store updates under a frozen FeatureModel.

The serve-side loop of the north_star pipeline: a feature store holds
point-in-time ReFeX features per turn; new transcript turns stream in;
each micro-batch triggers the incremental update
(:func:`graphrole_spark.pipeline.update_transcript_features`) for
exactly the conversations it touches.

Scale design — the store is hash-bucketed by ``conv_id`` in the
:mod:`graphrole_spark.streaming.store` layout (which also owns the
compaction recovery and the idempotent append used here):

* both the cumulative turns store and the feature store are parquet
  partitioned by ``__bucket = pmod(xxhash64(conv_id), n_buckets)``;
* a micro-batch marks its dirty conversations → dirty buckets; reading
  back previous turns/features prunes to those partitions (partition
  filter on ``__bucket``), and the rewrite uses dynamic partition
  overwrite, set as a per-write option (never on the shared session) —
  bytes touched per batch are O(dirty buckets), not O(store),
  regardless of total store size;
* the recompute itself is the frozen-model transform (one lazy plan,
  zero per-generation driver actions) over only the dirty
  conversations;
* ``n_buckets`` is pinned in the store's ``_params.json`` at bootstrap:
  a delta bucketed by another count would rewrite partitions the store
  never reads back, so such a step raises instead.

The result after any number of batches is bit-identical to a full
transform of the whole accumulated table (tested in
tests/test_streaming_maintenance.py).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrole_spark.streaming.store import (
    N_BUCKETS,
    append_new,
    bucket,
    bucket_ids,
    check_params,
    drain_available_now,
    read_store,
)


def _turns_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "turns")


def _features_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "features")


def bootstrap_feature_store(
    spark: SparkSession,
    transcripts: DataFrame,
    model,
    store_dir: str,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Initialize the store: bucketed turns + frozen-model features.
    Rewrites the whole store, so ``n_buckets`` is pinned afresh."""
    from graphrole_spark.pipeline import transform_transcript_features

    pin = os.path.join(store_dir, "_params.json")
    if os.path.exists(pin):
        os.remove(pin)
    check_params(store_dir, {"n_buckets": n_buckets})

    turns = transcripts.withColumn("__bucket", bucket(n_buckets=n_buckets))
    turns.write.mode("overwrite").partitionBy("__bucket").parquet(
        _turns_dir(store_dir)
    )
    feats = transform_transcript_features(transcripts, model).withColumn(
        "__bucket", bucket(n_buckets=n_buckets)
    )
    feats.write.mode("overwrite").partitionBy("__bucket").parquet(
        _features_dir(store_dir)
    )


def apply_delta(
    spark: SparkSession,
    delta: DataFrame,
    model,
    store_dir: str,
    n_buckets: int = N_BUCKETS,
) -> None:
    """One maintenance step: append the new turns, recompute features of
    the touched conversations, dynamically overwrite only their bucket
    partitions. Raises ValueError if ``n_buckets`` is not the one the
    store was bootstrapped with."""
    from graphrole_spark.pipeline import update_transcript_features

    check_params(store_dir, {"n_buckets": n_buckets})
    delta = delta.withColumn("__bucket", bucket(n_buckets=n_buckets)).persist()
    dirty_buckets = bucket_ids(delta, "__bucket")
    if not dirty_buckets:
        delta.unpersist()
        return
    # strict read before anything is written: a store that was never
    # bootstrapped raises here instead of gaining a turns/ of the delta
    feats_prev = read_store(spark, _features_dir(store_dir)).where(
        F.col("__bucket").isin(dirty_buckets)
    )
    # idempotent under foreachBatch's at-least-once replay: a retried
    # batch whose turns already landed (crash between the append and the
    # feature overwrite) must not append them again; the bucket is a
    # function of conv_id, so only the dirty partitions' keys are read
    keys = ["conv_id", "turn_idx"]
    append_new(delta, _turns_dir(store_dir), "__bucket", keys, dirty_buckets)

    # belt-and-braces: dedup on the turn key when reading back, so even a
    # store corrupted by a pre-fix double-append converges to the correct
    # feature values on the next touch of its bucket
    turns_dirty = (
        read_store(spark, _turns_dir(store_dir))
        .where(F.col("__bucket").isin(dirty_buckets))
        .dropDuplicates(keys)
    )
    updated = update_transcript_features(
        turns_dirty.drop("__bucket"),
        delta.drop("__bucket"),
        feats_prev.drop("__bucket"),
        model,
    ).withColumn("__bucket", bucket(n_buckets=n_buckets))
    (
        updated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(_features_dir(store_dir))
    )
    delta.unpersist()


def maintain_available_now(
    spark: SparkSession,
    delta_source_dir: str,
    model,
    store_dir: str,
    n_buckets: int = N_BUCKETS,
    max_files_per_trigger: Optional[int] = 1,
    checkpoint_dir: Optional[str] = None,
) -> int:
    """Drain the append stream into the store (one foreachBatch
    maintenance step per micro-batch; ``availableNow`` runs to
    completion, the production configuration would run unbounded).
    Returns the number of micro-batches processed."""

    def step(batch_df: DataFrame, _batch_id: int) -> None:
        apply_delta(spark, batch_df, model, store_dir, n_buckets=n_buckets)

    return drain_available_now(
        spark, delta_source_dir, step, max_files_per_trigger, checkpoint_dir
    )


def read_features(spark: SparkSession, store_dir: str) -> DataFrame:
    return read_store(spark, _features_dir(store_dir)).drop("__bucket")
