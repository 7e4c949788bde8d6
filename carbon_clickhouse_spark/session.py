"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same conf block is what we would
ship on a 1000-executor cluster (AQE, skew-join handling, Arrow for the
few pandas UDFs, UTC session time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def _default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else half of physical RAM capped at
    16 GiB: local[N] puts the driver AND all executor threads in one
    JVM, so the heap is sized for N concurrent tasks, but it must stay
    below RAM or the host kills the JVM before it ever spills."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16384, phys_mb // 2)}m"


def get_spark(
    app_name: str = "carbon-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = _default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        # deterministic cross-engine comparison + the reference's
        # utc-date behavior (SURVEY §1.4)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # runtime re-planning: coalesce small shuffle partitions,
        # split skewed ones — required posture at 100 TB
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE coalesce target (guide §2.2): post-shuffle partitions in
        # the 100 MB-1 GB band, not the 64 MB default — at cluster
        # scale this halves reduce-side block count; locally every
        # bench shuffle is far below either target so the coalesced
        # plan is identical (verified: leg timings unchanged).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        # allow shuffled-hash joins where the per-partition build side
        # fits (guide §3.1): sort-merge's sort is pure overhead for
        # the bounded-summary joins this engine plans; the planner
        # still falls back to SMJ when size conditions fail
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Arrow batches for the pandas-UDF parity functions
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # metrics points are tiny rows; bigger scan partitions
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long (we floor to seconds ourselves)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
