"""SparkSession factory tuned for the driver's local[N] harness while
keeping every knob cluster-appropriate (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(mem_total: int | None = None) -> str:
    """Default ``spark.driver.memory``: half of physical RAM (bytes,
    read from ``os.sysconf`` when not given), at least 1 GB and at most
    32 GB. A fixed 32 GB heap lets the JVM grow past a small host's RAM
    until the kernel kills it; half leaves room for the Python driver
    and the page cache."""
    if mem_total is None:
        try:
            mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):  # no sysconf: old cap
            mem_total = 64 << 30
    return f"{min(max(mem_total // 2, 1 << 30), 32 << 30) >> 20}m"


def get_spark(
    app_name: str = "mapreduce-sssp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local mode is a test harness only; the configs below are the ones that
    also matter on a real cluster: AQE for runtime re-planning (skew joins,
    partition coalescing), Arrow for any Pandas-UDF path, UTC session TZ
    for deterministic timestamp semantics.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Honored only when THIS process launches the JVM (pyspark's
        # gateway passes it to spark-submit): bench/tests/tools get a real
        # heap instead of the 1g default, which measurably GC-throttled
        # the bench suite. A no-op on sessions whose JVM already exists
        # (e.g. the external driver harness) — harmless there.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
