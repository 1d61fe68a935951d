"""Store compaction: bound the per-partition FILE count of the
bucket-partitioned ingest stores.

Every micro-batch append (:mod:`corpus_dedup`, :mod:`vector_ingest`,
:mod:`maintenance`) adds one parquet file per touched bucket partition,
so a long-lived store's probe cost grows with BATCH COUNT (file-open
and footer overhead), not with data volume — the residual growth
documented in BENCH.md's ingest-probe table. Compaction is the standard
fix (what Iceberg's ``rewrite_data_files`` does for real tables; this
is the parquet-directory equivalent): rewrite every partition down to
one file with byte-identical rows.

Contract: run between batches, under the stores' existing single-writer
assumption (the same one every append already relies on). The rewrite
goes to a sibling temp directory, is row-count-verified against the
source, and is swapped in with two directory renames — a crash before
the first rename leaves the store untouched; between the renames the
old data is still on disk under ``<path>.__old__`` for manual recovery.

All data columns — including the ``__batch`` stamps the replay
idempotency of the probe path depends on — ride through unchanged;
only the file layout changes (asserted in tests/test_compaction.py).
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "compact_partitioned_dir",
    "compact_store",
    "recover_interrupted_compaction",
]

# the bucket-partitioned subdirectories each store kind appends to;
# "decisions" is deliberately absent — it is partitioned by batch_id
# with one write per batch already, and per-batch dynamic overwrite is
# its replay contract
_STORE_SUBS = ("content", "bands", "shingles", "buckets", "vectors", "features", "turns")


def _partition_cols(path: str) -> list:
    """Partition column chain from the hive-style directory names
    (``__cb=3/part-*.parquet`` → ``["__cb"]``; nested partitions give
    the full chain)."""
    cols = []
    cur = path
    while True:
        parts = sorted(
            d for d in os.listdir(cur)
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        )
        if not parts:
            return cols
        cols.append(parts[0].split("=", 1)[0])
        cur = os.path.join(cur, parts[0])


def _n_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def recover_interrupted_compaction(path: str) -> bool:
    """Close the crash window between compaction's two renames: if the
    live directory is missing but ``<path>.__old__`` exists, the crash
    happened mid-swap and the old data — complete by construction, it
    is only renamed away AFTER the rewrite verified — is restored.
    Returns True when a restore happened. Every store read and append
    (:func:`graphrole_spark.streaming.store.read_store`,
    :func:`~graphrole_spark.streaming.store.append_new`) calls this first,
    so an interrupted compaction can never silently downgrade a probe to
    an empty store or restart a feature store's turns from one delta."""
    old = path + ".__old__"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
        return True
    return False


def compact_partitioned_dir(spark: SparkSession, path: str) -> Dict[str, int]:
    """Rewrite one hive-partitioned parquet directory to one file per
    partition. Returns ``{"files_before", "files_after", "rows"}``;
    a missing/empty directory is a no-op with zeroed stats."""
    recover_interrupted_compaction(path)
    if not os.path.isdir(path) or _n_files(path) == 0:
        return {"files_before": 0, "files_after": 0, "rows": 0}
    pcols = _partition_cols(path)
    df = spark.read.parquet(path)
    files_before = _n_files(path)
    rows = df.count()

    tmp = path + ".__compact__"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    out = df.repartition(*[F.col(c) for c in pcols]) if pcols else df.coalesce(1)
    writer = out.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(tmp)

    got = spark.read.parquet(tmp).count()
    if got != rows:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction of {path} would lose rows ({rows} -> {got}); aborted"
        )
    old = path + ".__old__"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {"files_before": files_before, "files_after": _n_files(path), "rows": rows}


def compact_store(
    spark: SparkSession,
    store_dir: str,
    subs: Optional[Sequence[str]] = None,
) -> Dict[str, Dict[str, int]]:
    """Compact every bucket-partitioned substore under ``store_dir``
    (an ingestion-dedup, vector-ingest, or feature-maintenance store).
    ``subs`` overrides the default substore list. Returns per-substore
    stats for the caller's maintenance metrics."""
    names = list(subs) if subs is not None else [
        s for s in _STORE_SUBS if os.path.isdir(os.path.join(store_dir, s))
    ]
    return {
        s: compact_partitioned_dir(spark, os.path.join(store_dir, s))
        for s in names
    }
