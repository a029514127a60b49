"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded pandas pipeline (SURVEY.md §4.1); the
engine targets a multi-executor cluster. These defaults are chosen for
local[N] testing but deliberately mirror what a 1000-executor job wants:
AQE (runtime coalesce + skew-join), zstd parquet, Arrow for any
pandas-UDF edges, UTC session time, and one preloading Python worker
daemon (``worker_daemon``): every Python worker is forked with pandas,
pyarrow and the package's UDF modules already imported.

The driver JVM also gets one JIT policy (``JIT_POLICY``): on the
benchmark's inputs the JVM compiling its own code was most of the CPU
(the C1/C2 compiler threads took 34 of ``analytics_mix``'s 56 set-up
CPU s and 2.1-2.5 of a warm ``sit_pipeline`` pass's 4.4-5.3), mostly C2
compiling methods that never grow hot. The policy raises C2's
thresholds, so C2 compiles only the code that stays hot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .plans.generate import register_kernel

# The driver JVM's JIT policy. C2 (tier 4) compiles a method once its
# invocations, invocations + loop back-edges, or back-edges pass these
# thresholds: 4x JDK 17's defaults of 5,000 / 15,000 / 40,000. In a
# session that lasts seconds to minutes C2 then skips the lukewarm
# methods, while the hot loops still reach it. The price is code that
# stays in C1 longer: analytics_mix's set-up wall rose about 5 %
# (pair median) while its CPU fell. 8x cut more CPU but made each
# analytics_mix query 6-15 % slower; C1 alone (-XX:TieredStopAtLevel=1)
# made each sit_pipeline pass 36 % slower. ROADMAP item 4 has the screen.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4CompileThreshold=60000 "
    "-XX:Tier4BackEdgeThreshold=160000"
)

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
    # JVM options apply only when get_spark launches the JVM
    "spark.driver.extraJavaOptions": JIT_POLICY,
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

    The JVM runs with ``JIT_POLICY`` (``spark.driver.extraJavaOptions``),
    which cut the measured CPU that JIT compiling takes. Like the heap
    size, it takes effect only when this call launches the JVM, and an
    ``extra_conf`` that sets ``spark.driver.extraJavaOptions`` replaces
    it. On a real cluster only the driver gets it; no workload here
    measures executors.
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
