"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded pandas pipeline (SURVEY.md §4.1); the
engine targets a multi-executor cluster. These defaults are chosen for
local[N] testing but deliberately mirror what a 1000-executor job wants:
AQE (runtime coalesce + skew-join), zstd parquet, Arrow for any
pandas-UDF edges, UTC session time, and one preloading Python worker
daemon (``worker_daemon``): every Python worker is forked with pandas,
pyarrow and the package's UDF modules already imported.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .plans.generate import register_kernel

_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and join-strategy re-planning — core of the 100TB story.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Small dims (region/nation/SIT catalog) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for pandas-UDF edges and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps across engines.
    "spark.sql.session.timeZone": "UTC",
    # Scan sizing: ~128MB splits, the parquet sweet spot.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # Python workers fork from a daemon that imported the UDF stack once
    # (Spark ignores spark.python.worker.module unless it starts "pyspark").
    "spark.python.daemon.module": f"{__package__}.worker_daemon",
}


def _machine_driver_mem() -> str:
    """A quarter of physical memory, 1-8 GB: local[N] runs the executors
    inside the driver JVM, and the rest of the box stays for the Python
    workers and the OS."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{max(1, min(8, mem_kb // (1024 * 1024) // 4))}g"


def get_spark(
    app_name: str = "synthetic-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; unset, it uses
    every core this process may run on. The driver heap is
    ``$SPARK_GRAFT_DRIVER_MEM``; unset, a quarter of physical memory
    capped at 8 GB.
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    you would size this to ~2-3x total cores and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    # local[N] runs executors inside the driver JVM — size its heap for
    # N concurrent tasks (default 1g dies at sf0.1). Ignored if a JVM is
    # already up (e.g. the driver's own session), which has its own heap.
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _machine_driver_mem()
    )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    register_kernel(spark)
    return spark
