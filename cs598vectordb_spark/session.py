"""SparkSession factory tuned for the engine.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions ~ cores (not the 200 default), AQE on for runtime coalescing and
skew handling, Arrow on for the pandas-UDF fast path, UTC session timezone
so timestamps hash-match the DuckDB oracle. Python workers run under the
engine's own daemon module (`_pydaemon`), which stops each task from
re-reading the directory of every zip archive on the workers' path.

At cluster scale the same builder is used with master/memory supplied by
spark-submit; nothing here assumes local mode except the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory_for(host_bytes: int | None) -> str:
    """The default `spark.driver.memory` for a host with `host_bytes` of
    physical memory: half of it, at least 512 MB and at most 16 GB, in
    whole megabytes. In local mode the driver JVM is also the executor,
    and its heap can grow past physical memory before a collection runs,
    so the default stays well below the host's memory and leaves the rest
    to the Python workers. An unknown size keeps the 16 GB ceiling."""
    if not host_bytes or host_bytes <= 0:
        return "16384m"
    return f"{min(16384, max(512, host_bytes // (2 << 20)))}m"


def driver_memory() -> str:
    """`SPARK_DRIVER_MEM` if set, else `driver_memory_for` this host's
    physical memory (page size × physical pages)."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    try:
        host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        host = None
    return driver_memory_for(host)


def get_spark(app_name: str = "cs598vectordb_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 8, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Context-creation config (NOT settable later): FAIR lets the
        # multi-tenant and overlapped-update workloads share executors
        # across concurrently submitted jobs instead of FIFO
        # head-of-line blocking. Pools are created on demand by
        # setLocalProperty('spark.scheduler.pool', ...).
        .config("spark.scheduler.mode", "FAIR")
        # events.ts has shipped as TIMESTAMP(NANOS) (read as long nanos,
        # converted in sources/tables.py) and as timestamp[us]-no-tz (which
        # would infer TIMESTAMP_NTZ and break numeric casts + watermarks).
        # Pin both confs; session tz is UTC so TIMESTAMP == the oracle's
        # timezone-free values either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local mode runs tasks in the driver JVM: see driver_memory_for
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # exact kNN uses an explicit crossJoin(broadcast(queries)); keep the
        # guard rails on for everything else.
        .config("spark.sql.crossJoin.enabled", "true")
        # Python workers unpickle package kernels by module path, so they
        # need the package's parent directory on their path whatever
        # directory the driver script was started from (Spark merges this
        # ahead of the worker's inherited PYTHONPATH)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # PySpark invalidates import caches before every task, and on
        # Python 3.11 that re-reads pyspark.zip's directory ~16 times
        # (0.1–0.2 s per task); this daemon skips archives unchanged on disk
        # and is otherwise pyspark.daemon (see _pydaemon.py)
        .config("spark.python.daemon.module", "cs598vectordb_spark._pydaemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
