"""Streaming embedding ingestion dedup: new vectors are checked for
cosine near-duplicates against the accumulated vector store BEFORE
admission — the embedding-side twin of
:mod:`graphrole_spark.streaming.corpus_dedup`.

Probe shape mirrors the batch LSH operators in
:mod:`graphrole_spark.functions.similarity`: each vector is bucketed by
``n_tables`` hyperplane sign signatures (one Arrow matmul per batch);
candidates are same-(table, bucket) pairs against the accumulated
bucket store; candidates are verified with exact cosine against the
stored vectors. Semantics are first-arrival-wins.

Store layout (all hash-bucketed so probes read O(batch) bytes):

* ``buckets/`` (table, bucket, vec_id, __batch)  partitioned by
  ``pmod(xxhash64(bucket), n_buckets)`` — the candidate equi-join side;
* ``vectors/`` (vec_id, embedding, __batch)      partitioned by vec id,
  read only for candidate verification (semi-join pruned).

Idempotency follows corpus_dedup: probes exclude rows stamped with the
CURRENT batch id, and appends are the idempotent
:func:`~graphrole_spark.streaming.store.append_new` per key ((vec_id,
table) for the multi-row bucket store). Reads and the LSH parameter pin
are those of :mod:`graphrole_spark.streaming.store`. Recall is the LSH
recall of the same (n_planes, n_tables) banding the batch operators test
against brute force — a miss admits a near-dup (no false rejections:
candidates are exactly verified).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrole_spark.functions.similarity import (
    _all_table_buckets,
    _as_double,
    cosine,
)
from graphrole_spark.streaming.store import (
    N_BUCKETS,
    append_new,
    bucket,
    bucket_ids,
    check_params,
    read_store,
)


def apply_vector_delta(
    spark: SparkSession,
    delta: DataFrame,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 11,
    n_buckets: int = N_BUCKETS,
    batch_id: int = 0,
) -> DataFrame:
    """One ingestion step. Returns ``(vec_id, status)`` with status ∈
    {'new', 'near_dup'} (one row per distinct batch vector) and appends
    admitted vectors' buckets + embeddings to the store."""
    check_params(
        store_dir,
        {
            "threshold": threshold,
            "n_planes": n_planes,
            "n_tables": n_tables,
            "seed": seed,
            "n_buckets": n_buckets,
        },
    )
    delta = (
        delta.select(
            F.col(id_col).alias("vec_id"),
            _as_double(F.col(vec_col)).alias("embedding"),
        )
        .dropDuplicates(["vec_id"])
        .localCheckpoint()
    )
    buckets_udf = _all_table_buckets(n_planes, n_tables, seed)
    new_buckets = delta.select(
        "vec_id",
        F.posexplode(buckets_udf(F.col("embedding"))).alias("table", "bucket"),
    ).localCheckpoint()

    bucket_store = read_store(
        spark,
        os.path.join(store_dir, "buckets"),
        "table int, bucket long, vec_id long, __batch long, __bb int",
    )
    probe_bb = bucket_ids(new_buckets, bucket(F.col("bucket"), n_buckets))
    cand = (
        new_buckets.join(
            bucket_store.where(
                F.col("__bb").isin(probe_bb or [-1])
                & (F.col("__batch") != batch_id)
            ).select("table", "bucket", F.col("vec_id").alias("old_id")),
            ["table", "bucket"],
        )
        .select("vec_id", "old_id")
        .distinct()
    )
    vector_store = read_store(
        spark,
        os.path.join(store_dir, "vectors"),
        "vec_id long, embedding array<double>, __batch long, __vb int",
    )
    old_vecs = (
        vector_store.where(F.col("__batch") != batch_id)
        .join(
            cand.select(F.col("old_id").alias("vec_id")).distinct(),
            "vec_id",
            "left_semi",
        )
        .select(F.col("vec_id").alias("old_id"), F.col("embedding").alias("old_v"))
    )
    store_near_dup = (
        cand.join(delta, "vec_id")
        .join(old_vecs, "old_id")
        .where(F.round(cosine(F.col("embedding"), F.col("old_v")), 9) >= threshold)
        .select("vec_id")
        .distinct()
        .localCheckpoint()
    )
    after_store = delta.join(store_near_dup, "vec_id", "left_anti")

    # intra-batch: cluster-transitive near-dups, smallest id survives
    from graphrole_spark.functions.dedup_graph import dedup_keep
    from graphrole_spark.functions.similarity import embedding_near_duplicates

    intra_pairs = embedding_near_duplicates(
        after_store, threshold=threshold, id_col="vec_id", vec_col="embedding",
        seed=seed,
    )
    intra_keep = dedup_keep(
        after_store, intra_pairs, id_col="vec_id", src="id_a", dst="id_b"
    )
    intra_near_dup = intra_keep.where(F.col("keep") == 0).select("vec_id")
    admitted_ids = (
        after_store.join(intra_near_dup, "vec_id", "left_anti")
        .select("vec_id")
        .localCheckpoint()
    )
    near_dup_ids = (
        store_near_dup.unionByName(intra_near_dup).distinct().localCheckpoint()
    )

    append_new(
        new_buckets.join(admitted_ids, "vec_id", "left_semi")
        .withColumn("__batch", F.lit(batch_id))
        .withColumn("__bb", bucket(F.col("bucket"), n_buckets)),
        os.path.join(store_dir, "buckets"),
        "__bb",
        ["vec_id", "table"],
    )
    append_new(
        delta.join(admitted_ids, "vec_id", "left_semi")
        .withColumn("__batch", F.lit(batch_id))
        .withColumn("__vb", bucket(F.col("vec_id"), n_buckets)),
        os.path.join(store_dir, "vectors"),
        "__vb",
        ["vec_id"],
    )

    return (
        delta.select("vec_id")
        .join(near_dup_ids.withColumn("__s", F.lit("near_dup")), "vec_id", "left")
        .select("vec_id", F.coalesce("__s", F.lit("new")).alias("status"))
        .localCheckpoint()
    )
