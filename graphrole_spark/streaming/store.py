"""The bucketed-store format of the streaming stores — feature
maintenance, ingestion dedup and vector ingest — in one place.

Every store is hive-partitioned parquet whose partition column is a
``pmod(xxhash64(key), n_buckets)`` bucket, appended to by foreachBatch
micro-batches (:func:`drain_available_now`). Reads and appends first
restore a directory that a crashed compaction left under
``<path>.__old__``; appends anti-join the store on their keys, so
at-least-once replay lands each row once; the parameters a store was
built under are pinned in ``_params.json``, since probing a store built
under others silently finds nothing.
"""

from __future__ import annotations

import json
import os
from typing import Callable, List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrole_spark.streaming.compaction import recover_interrupted_compaction

N_BUCKETS = 64


def bucket(col="conv_id", n_buckets: int = N_BUCKETS) -> Column:
    """Bucket id of a column name or Column expression."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def bucket_ids(frame: DataFrame, col) -> List[int]:
    """Distinct bucket ids of ``frame`` as a driver list (≤ n_buckets
    values) — the partition filter of a pruned read."""
    return [r[0] for r in frame.select(col).distinct().collect()]


def read_store(
    spark: SparkSession, path: str, schema: Optional[str] = None
) -> DataFrame:
    """Read a store directory after restoring an interrupted compaction.

    With ``schema``, a store that was never written reads as an empty
    frame of that schema; any other read failure (corrupt footer,
    transient FS error) propagates, or a probe would silently degrade to
    admit-everything. Without ``schema`` the read is strict."""
    recover_interrupted_compaction(path)
    if schema is None:
        return spark.read.parquet(path)
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
            return spark.createDataFrame([], schema)
        raise


def check_params(store_dir: str, params: dict) -> None:
    """Pin ``params`` to the store on first use; raise on any later call
    with different ones."""
    os.makedirs(store_dir, exist_ok=True)
    path = os.path.join(store_dir, "_params.json")
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
        if stored != params:
            raise ValueError(
                f"store {store_dir} was built with {stored}; "
                f"called with {params} — probes would be incomparable"
            )
    else:
        with open(path, "w") as fh:
            json.dump(params, fh)


def append_new(
    df: DataFrame,
    path: str,
    partition_col: str,
    keys: List[str],
    buckets: Optional[List[int]] = None,
) -> None:
    """Append the rows of ``df`` whose ``keys`` the store does not hold
    yet, partitioned by ``partition_col``. A partially visible earlier
    attempt is backfilled row-complete, never frozen half-written.

    ``buckets`` limits the key read to those partitions; pass it only
    when the partition is a function of the keys, else a key stored in
    another partition would be appended a second time."""
    recover_interrupted_compaction(path)
    if os.path.isdir(path):
        existing = df.sparkSession.read.parquet(path)
        if buckets is not None:
            existing = existing.where(F.col(partition_col).isin(buckets))
        # no distinct: a left-anti join ignores duplicate keys
        df = df.join(existing.select(*keys), keys, "left_anti")
    df.write.mode("append").partitionBy(partition_col).parquet(path)


def drain_available_now(
    spark: SparkSession,
    source_dir: str,
    step: Callable[[DataFrame, int], None],
    max_files_per_trigger: Optional[int],
    checkpoint_dir: Optional[str],
) -> int:
    """Run ``step(batch_df, batch_id)`` per micro-batch of the parquet
    append stream under ``source_dir`` until it is drained. Returns the
    number of micro-batches processed."""
    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    n_batches = 0

    def counted(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        step(batch_df, batch_id)
        n_batches += 1

    writer = reader.parquet(source_dir).writeStream.foreachBatch(counted)
    writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()
    return n_batches
