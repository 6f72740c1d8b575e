"""SparkSession factory with scale-appropriate defaults.

Local mode is single-JVM; on a real cluster the same config applies, with
AQE handling runtime skew/coalescing. Tuned per the public Spark docs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(physical: int | None = None) -> str:
    """Default spark.driver.memory: 16g, or half of the host's physical
    memory (`physical` bytes; read with os.sysconf when None) if that
    is less, so a local session leaves room for its Python workers."""
    if physical is None:
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, physical // 2 >> 20)}m"


def get_spark(
    app_name: str = "iresearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # posting blobs are tiny on the wire but expensive to DECODE
        # (one 2MB shuffle fans a hot term's 1M packed postings out to
        # the whole cluster); default 1MB coalescing would collapse
        # that decode back to 1-2 tasks
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
