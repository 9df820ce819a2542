"""SparkSession construction tuned for this engine.

Local mode is a single JVM with N executor threads; on a real cluster
the same configs apply per executor. Shuffle-partition count is sized
to parallelism (not the 200 default) and AQE is on so skewed merge
shuffles re-plan at runtime (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_GIB = 16


def driver_memory() -> str:
    """The driver heap: ``SPARK_DRIVER_MEM`` when set, else a fifth of
    physical memory capped at 16g. The heap is pinned and pre-touched
    (see get_spark), so a fixed default larger than the host cannot
    start the JVM at all."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    fifth = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 5
    gib = min(MAX_DRIVER_GIB, fifth >> 30)
    return f"{gib}g" if gib else f"{fifth >> 20}m"


def get_spark(
    app_name: str = "beehive-cdc-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` maps to ``local[cores]``; shuffle partitions default to
    2×cores so AQE's coalescing has room to shrink small stages while
    big stages still use every slot.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    heap = driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        # pin the heap (-Xms == -Xmx): G1 on Java 17 uncommits idle heap
        # and the kernel page-zeroing on re-touch shows up as multi-second
        # system-time stalls inside otherwise-identical jobs
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + heap + " -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # token-array rows are ~1 KB; 32 MB input splits keep wide-array
        # scans parallel (the parquet row group is the split floor)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Python Data Source filter pushdown (sources/spark_datasource.py
        # prunes buckets from pushed key filters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # list input directories on the driver, never in a Spark job: a
        # sink read over more than 32 (the default) bucket/delta dirs
        # otherwise launches a 48-64-task listing job, ~0.8 CPU-s each.
        # SnapshotSink tables are POSIX-local (commits are os.replace
        # under a lock file), so driver-side listing is a few dozen
        # readdirs
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "65536")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
