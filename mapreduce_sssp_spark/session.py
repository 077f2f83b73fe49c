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

    ``spark.sql.codegen.cache.maxEntries`` is the number of whole-stage
    codegen classes the JVM keeps compiled. Spark's default of 100 is
    below every working set here: a warm ``tpch_sql`` cycle (22 queries)
    uses about 290 distinct classes, a ``corpus_dedup`` op about 120 and
    one pass over the 346-query registry at sf0.01 about 4.7k. These
    revisit their classes in the same order each time, and an LRU cache
    smaller than such a cycle misses on every class: a Janino compile, a
    new class load and fresh work for the JIT compiler each time. At the
    default a warm tpch cycle recompiled every class and spent two
    thirds of its CPU in the JIT compiler threads. 8192 holds the whole
    registry; the classes live in metaspace, not in the heap. Like
    ``spark.driver.memory`` it is a static conf: it takes effect only
    when this call launches the JVM and has no effect on a session that
    already exists.
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
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
