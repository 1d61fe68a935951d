"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster in this sandbox; the
conf below is what we would ship in spark-defaults on a real cluster
(AQE on, skew-join on, Arrow on, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graphrole_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    prewarm: bool = True,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/memory settings come from spark-submit instead.
    ``master`` overrides the default ``local[cores]`` — used by the
    scaling harness to run ``local-cluster[n,cores,mem]`` topologies
    (separate executor JVMs with their own heaps/GC, the closest
    single-box stand-in for real multi-executor N-vs-4N legs); pass
    ``cores`` as the TOTAL core count so shuffle partitioning stays
    consistent.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this would be
        # ~2-3x total executor cores (AQE coalesces the excess)
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: the driver heap IS the executor heap — size it to the
        # host (32 concurrent tasks thrash an 8g heap with GC)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if prewarm:
        prewarm_python_workers(spark, cores)
    return spark


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap when $SPARK_GRAFT_DRIVER_MEM is unset.

    Half the host's physical memory (``phys_bytes``, read with
    ``os.sysconf`` by default) in whole GiB, at least 1g and at most 48g:
    in local mode the Python workers and the JVM's off-heap memory need
    the other half, and a heap larger than the host only defers the
    failure from start-up to the first big job.
    """
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(phys_bytes // 2 // 2**30, 1), 48)}g"


def prewarm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Spawn the Arrow Python worker pool once at session build.

    Long-lived executors keep their Python workers across jobs
    (spark.python.worker.reuse defaults to true), so on a cluster the
    pool exists before any query; a fresh local session would otherwise
    charge the one-time pool spawn (~5-10 s for 32 workers) to the first
    mapInPandas/pandas_udf query that runs."""
    import pandas as pd  # noqa: F401  (ships with the workers)

    n = n or spark.sparkContext.defaultParallelism

    def _identity(batches):
        for b in batches:
            yield b

    spark.range(n, numPartitions=n).mapInPandas(_identity, "id long").count()
