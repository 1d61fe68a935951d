"""Streaming ingestion dedup: new documents are checked against the
accumulated corpus BEFORE they are admitted.

The ingestion-side twin of :mod:`graphrole_spark.streaming.maintenance`
(which maintains features; this maintains the corpus itself): batches of
new documents stream in, and each batch is deduplicated

1. exactly — md5 content hash against the accumulated content store;
2. near — MinHash band collisions against the accumulated band store,
   exact-Jaccard-verified against the stored shingle sets — run BEFORE
   the intra-batch stage so a batch doc whose only near-neighbor is a
   store-rejected sibling is still admitted;
3. within the batch — cluster-transitive (connected components, the
   smallest doc id per cluster survives; slightly stricter than
   record-at-a-time greedy for chained near-dups, documented here).

Semantics are **first-arrival-wins**: the earliest admitted copy stays
canonical and later near-copies are rejected (a batch rebuild with
:func:`~graphrole_spark.functions.dedup_graph.dedup_keep` can instead
keep the best-quality copy — streaming trades that choice for never
reprocessing history). ``doc_id`` is assumed unique corpus-wide: a
re-delivered id probes normally (its earlier rows carry an older
batch_id), but an id REUSED for different content is refused storage.

Scale design — every store is hash-bucketed so a probe touches
O(batch) bytes, not O(corpus):

* ``content/``  (content_hash, doc_id, __batch)  bucketed by content hash;
* ``bands/``    (band, bhash, doc_id, __batch)   bucketed by band hash —
  the probe is the same ids-only band equi-join as the batch
  near-dup operator;
* ``shingles/`` (doc_id, shh, __batch)           bucketed by doc id,
  read only for the band-collision candidates (semi-join pruned).

Idempotency under foreachBatch's at-least-once replay:

* probe reads exclude rows stamped with the CURRENT batch id (a crashed
  earlier attempt of the same batch may have appended them; rows from
  other batches — including an older delivery of the same doc id —
  still count);
* appends are :func:`~graphrole_spark.streaming.store.append_new` per
  key — per (doc_id, band) for the multi-row bands store — over every
  partition, since the stores are bucketed by hash but keyed by doc id;
* the ``decisions/`` output is partitioned by batch id and written with
  dynamic partition overwrite, so a replayed batch replaces its own
  rows instead of appending a second copy.

The shingle/band/signature parameters are pinned to the store
(:func:`~graphrole_spark.streaming.store.check_params`); reads, the
compaction recovery and the drain loop are the shared ones of
:mod:`graphrole_spark.streaming.store`.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphrole_spark.functions.text import (
    SHINGLE_HASH_SCHEME,
    bands_for_threshold,
    minhash_bands,
    minhash_shingle_hashes,
)
from graphrole_spark.streaming.store import (
    N_BUCKETS,
    append_new,
    bucket,
    bucket_ids,
    check_params,
    drain_available_now,
    read_store,
)


def apply_dedup_delta(
    spark: SparkSession,
    delta: DataFrame,
    store_dir: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
    n_hashes: int = 32,
    seed: int = 7,
    n_buckets: int = N_BUCKETS,
    batch_id: int = 0,
) -> DataFrame:
    """One ingestion step. Returns the batch's decision frame
    ``(doc_id, status)`` with status ∈ {'new', 'exact_dup', 'near_dup'}
    (one row per distinct batch doc) and appends the admitted docs'
    hashes/bands/shingles to the store, stamped with ``batch_id``.

    The returned frame is localCheckpoint-backed (safe to use after the
    caller deletes nothing / the stream moves on); callers wanting the
    admitted documents semi-join status='new'.
    """
    bands = bands_for_threshold(jaccard_threshold, n_hashes)
    check_params(
        store_dir,
        {
            "jaccard_threshold": jaccard_threshold,
            "shingle_n": shingle_n,
            "n_hashes": n_hashes,
            "bands": bands,
            "seed": seed,
            "n_buckets": n_buckets,
            # hash-scheme version (functions/text.py::SHINGLE_HASH_SCHEME):
            # a store whose shingle/band hashes were computed under a
            # different scheme would silently admit every near-duplicate
            # (stored hashes never match new-batch hashes) — exactly the
            # failure check_params exists to prevent. Stores written
            # before this field exists also fail loudly (dict mismatch).
            "shingle_hash_scheme": SHINGLE_HASH_SCHEME,
        },
    )
    delta = (
        delta.select(
            "doc_id",
            F.col(text_col).alias("__text"),
            F.md5(F.coalesce(text_col, F.lit(""))).alias("content_hash"),
        )
        .dropDuplicates(["doc_id"])
        .localCheckpoint()
    )

    def exclude_this_batch(store: DataFrame) -> DataFrame:
        return store.where(F.col("__batch") != batch_id)

    # ---- exact stage -----------------------------------------------------
    # intra-batch: first (min doc_id) copy per content hash survives
    hashed = delta.withColumn(
        "__first", F.min("doc_id").over(Window.partitionBy("content_hash"))
    )
    intra_exact_dup = hashed.where(F.col("doc_id") != F.col("__first"))

    content_store = read_store(
        spark,
        os.path.join(store_dir, "content"),
        "content_hash string, doc_id long, __batch long, __cb int",
    )
    probe_cb = bucket_ids(delta, bucket(F.col("content_hash"), n_buckets))
    store_hashes = (
        exclude_this_batch(content_store.where(F.col("__cb").isin(probe_cb or [-1])))
        .select("content_hash")
        .distinct()
    )
    store_exact_dup = (
        hashed.where(F.col("doc_id") == F.col("__first"))
        .join(store_hashes, "content_hash", "left_semi")
        .select("doc_id")
    )
    exact_dup_ids = (
        intra_exact_dup.select("doc_id").unionByName(store_exact_dup).distinct()
    )
    after_exact = (
        delta.join(exact_dup_ids, "doc_id", "left_anti")
        .withColumnRenamed("__text", text_col)
    )

    # shingle hashes computed ONCE for the batch (the dominant constant
    # of every minhash plan) and threaded through banding, the store
    # probe, and the intra-batch pair search
    sh_all = minhash_shingle_hashes(
        after_exact, text_col, shingle_n, seed
    ).localCheckpoint()
    bands_all = minhash_bands(
        after_exact, text_col, shingle_n, n_hashes, bands, seed, hashed=sh_all
    ).localCheckpoint()

    # ---- store near probe (BEFORE the intra stage: a doc whose only
    # near-neighbor is a store-rejected batch sibling must be admitted)
    band_store = read_store(
        spark,
        os.path.join(store_dir, "bands"),
        "band int, bhash long, doc_id long, __batch long, __bb int",
    )
    probe_bb = bucket_ids(bands_all, bucket(F.col("bhash"), n_buckets))
    cand = (
        bands_all.join(
            exclude_this_batch(band_store.where(F.col("__bb").isin(probe_bb or [-1])))
            .select("band", "bhash", F.col("doc_id").alias("old_id")),
            ["band", "bhash"],
        )
        .select("doc_id", "old_id")
        .distinct()
    )
    shingle_store = read_store(
        spark,
        os.path.join(store_dir, "shingles"),
        "doc_id long, shh array<long>, __batch long, __sb int",
    )
    old_sh = exclude_this_batch(shingle_store).join(
        cand.select(F.col("old_id").alias("doc_id")).distinct(), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("old_id"), F.col("shh").alias("sh_old"))
    # |A∪B| = |A| + |B| − |A∩B| exactly (shingle sets are duplicate-
    # free): one array_intersect per pair, no union materialization
    i = F.size(F.array_intersect("shh", "sh_old"))
    jac = i / (F.size("shh") + F.size("sh_old") - i)
    store_near_dup = (
        cand.join(sh_all, "doc_id")
        .join(old_sh, "old_id")
        .where(F.round(jac, 6) >= jaccard_threshold)
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
    after_store = after_exact.join(store_near_dup, "doc_id", "left_anti")

    # ---- intra-batch near stage (cluster-transitive, min id wins) --------
    from graphrole_spark.functions.dedup_graph import dedup_keep
    from graphrole_spark.functions.text import minhash_near_duplicates

    sh_surv = sh_all.join(after_store.select("doc_id"), "doc_id", "left_semi")
    intra_pairs = minhash_near_duplicates(
        after_store,
        text_col,
        shingle_n=shingle_n,
        n_hashes=n_hashes,
        jaccard_threshold=jaccard_threshold,
        seed=seed,
        hashed=sh_surv,
    )
    intra_keep = dedup_keep(after_store, intra_pairs)
    intra_near_dup = intra_keep.where(F.col("keep") == 0).select("doc_id")
    admitted_ids = (
        after_store.join(intra_near_dup, "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint()
    )
    near_dup_ids = (
        store_near_dup.unionByName(intra_near_dup).distinct().localCheckpoint()
    )

    # ---- append admitted docs to the stores ------------------------------
    append_new(
        delta.join(admitted_ids, "doc_id", "left_semi")
        .select("doc_id", "content_hash")
        .withColumn("__batch", F.lit(batch_id))
        .withColumn("__cb", bucket(F.col("content_hash"), n_buckets)),
        os.path.join(store_dir, "content"),
        "__cb",
        ["doc_id"],
    )
    append_new(
        bands_all.join(admitted_ids, "doc_id", "left_semi")
        .withColumn("__batch", F.lit(batch_id))
        .withColumn("__bb", bucket(F.col("bhash"), n_buckets)),
        os.path.join(store_dir, "bands"),
        "__bb",
        ["doc_id", "band"],
    )
    append_new(
        sh_all.join(admitted_ids, "doc_id", "left_semi")
        .withColumn("__batch", F.lit(batch_id))
        .withColumn("__sb", bucket(F.col("doc_id"), n_buckets)),
        os.path.join(store_dir, "shingles"),
        "__sb",
        ["doc_id"],
    )

    return (
        delta.select("doc_id")
        .join(exact_dup_ids.withColumn("__s", F.lit("exact_dup")), "doc_id", "left")
        .join(near_dup_ids.withColumn("__s2", F.lit("near_dup")), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__s", "__s2", F.lit("new")).alias("status"),
        )
        .localCheckpoint()
    )


def ingest_available_now(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    max_files_per_trigger: Optional[int] = 1,
    checkpoint_dir: Optional[str] = None,
) -> int:
    """Drain a parquet append stream through the ingestion dedup (one
    ``apply_dedup_delta`` per micro-batch; ``availableNow`` runs to
    completion — production would run unbounded). Decisions land in
    ``<store_dir>/decisions`` partitioned by batch_id with dynamic
    partition overwrite, so a replayed batch REPLACES its own rows.
    Returns the number of micro-batches processed."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        decisions = apply_dedup_delta(
            spark, batch_df, store_dir, text_col, jaccard_threshold,
            batch_id=batch_id,
        )
        # per-write option, NOT a session conf: foreachBatch runs inside a
        # cloned session whose confs were snapshotted at query start, so a
        # conf set here would not reach the write
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(store_dir, "decisions"))
        )

    return drain_available_now(
        spark, source_dir, step, max_files_per_trigger, checkpoint_dir
    )
