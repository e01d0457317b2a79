"""SparkSession bootstrap sized from the host it runs on.

At 100 TB / 1000 executors the same settings translate to: AQE on (runtime
coalesce + skew-join), shuffle partitions sized to cluster cores, UTC
session timezone (oracle comparability), Arrow for the Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _physical_memory_bytes() -> int:
    """MemTotal from /proc/meminfo, else the POSIX physical page count."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else about half of physical memory: a
    heap larger than the machine lets the JVM grow past RAM instead of
    collecting garbage, and the kernel kills it."""
    return os.environ.get("SPARK_DRIVER_MEMORY") or f"{_physical_memory_bytes() // 2 // 2**20}m"


def get_spark(app_name: str = "mini_hadoop_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: the host's
    core count); ``SPARK_DRIVER_MEMORY`` the heap (see driver_memory).
    Shuffle partitions match core count — the right setting for local
    mode; on a real cluster this would be ~2-3x total cores and AQE
    coalesces down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen compiled-class cache (default 100 entries).
        # This application plans ~200 distinct queries x ~8 codegen
        # stages each, so at the default size every generated class is
        # EVICTED between two runs of the same query and janino
        # recompiles the whole plan each time (measured: a complex query
        # re-run after 25 other queries costs ~2.6 s at default vs
        # ~1.5 s with the cache sized to hold the full workload; the
        # penalty is pure driver-side compilation).  Scale-INDEPENDENT:
        # the right size tracks the number of distinct plans the
        # application runs, not the data volume — any multi-query job
        # server wants the same setting.  ~Tens of KB per entry; a few
        # hundred MB ceiling.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Python workers fork from worker_daemon, which spares each task
        # re-reading pyspark.zip's directory; the package's parent on the
        # workers' path lets them import it from any working directory.
        .config("spark.python.daemon.module", "mini_hadoop_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # nanosAsLong is NOT set here: the catalog probes each file's
        # actual timestamp encoding and flips the conf only when a nanos
        # column is really present (sources/catalog.py).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
