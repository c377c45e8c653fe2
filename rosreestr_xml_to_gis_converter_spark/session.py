"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a cluster deployment would set per-executor;
the partitioning discipline (shuffle partitions ~ cores, AQE on, Arrow on)
is the same one that holds at 1000 executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# the directory holding this package (a directory or a zip), for workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """A quarter of physical RAM, in whole GiB (at least 1g)."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, ram // (4 << 30))}g"


def get_spark(
    app_name: str = "rosreestr_gis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` drives both master parallelism and shuffle partitions so the
    same job can be benchmarked at two parallelism levels (the sandbox
    proxy for the N vs 4N executor scaling criterion in BASELINE.json).
    It defaults to ``SPARK_GRAFT_CPUS``, else to the cores this process
    may run on.

    ``spark.executorEnv.PYTHONPATH`` lets the Python workers import this
    package from any working directory.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle = shuffle_partitions or max(cores, DEFAULT_SHUFFLE_PARTITIONS)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the default 256 MB skew threshold never fires on a hot join
        # KEY whose partition is "only" ~100 MB but carries minutes of
        # per-row (Python PIP) work.  16 MB + the unchanged 5x-median
        # factor catches it while leaving healthy jobs alone — at cluster
        # scale the factor dominates (median-sized partitions are far
        # above 16 MB), so the low threshold is scale-safe.  Split chunks
        # target the advisory size; forceOptimizeSkewedJoin accepts the
        # extra shuffle a split can introduce (a skewed straggler always
        # costs more than one more exchange of its bytes).  ``extra_conf``
        # overrides both.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode: the driver JVM is the whole cluster — size its heap
        # like the sum of executors, not like a driver
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
