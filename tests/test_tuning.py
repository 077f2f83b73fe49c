"""The data/deployment-aware tuning helpers: fixpoint-loop partition
sizing, the streaming state-store clamp, the default driver heap and
the codegen class cache.

Both only ever LOWER parallelism below the session's setting — a session
tuned for a real cluster keeps its sizing — and both restore the session
conf on exit.
"""

from __future__ import annotations

from mapreduce_sssp_spark.graph.fixpoint import loop_partitions, static_rounds
from mapreduce_sssp_spark.io.sources import load_table
from mapreduce_sssp_spark.session import driver_memory
from mapreduce_sssp_spark.streaming.source import bounded_state_partitions


def test_loop_partitions_floor_for_tiny_input(spark):
    """A single small parquet file must not serialize the loop (floor 4)
    nor fan it out to a cluster's worth of near-empty tasks."""
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    n = loop_partitions(spark, li)
    assert 4 <= n <= spark.sparkContext.defaultParallelism


def test_loop_partitions_scales_with_bytes(spark):
    """~1 MB of compressed source per partition: the 10x larger scale
    factor must get strictly more loop partitions (until the cores cap)."""
    small = loop_partitions(
        spark, load_table(spark, "/root/testdata/sf0.001", "lineitem")
    )
    big = loop_partitions(
        spark, load_table(spark, "/root/testdata/sf0.1", "lineitem")
    )
    assert big > small


def test_loop_partitions_falls_back_without_input_files(spark):
    """In-memory frames have no scan — fall back to a sane bound, never
    raise (the helper is a sizing heuristic, not a correctness gate)."""
    df = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    n = loop_partitions(spark, df)
    assert 4 <= n <= max(spark.sparkContext.defaultParallelism, 4)


def test_static_rounds_applies_and_restores_parts(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with static_rounds(spark, parts=5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe


def test_static_rounds_never_raises_parallelism(spark):
    """parts above the session conf must clamp to the conf (the helper
    only lowers)."""
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    try:
        with static_rounds(spark, parts=64):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_bounded_state_partitions_lowers_and_restores(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        with bounded_state_partitions(spark):
            clamped = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert 4 <= clamped < 200
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_bounded_state_partitions_keeps_lower_session_setting(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        with bounded_state_partitions(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_driver_memory_is_half_of_ram_within_1g_and_32g():
    gib = 1 << 30
    assert driver_memory(16 * gib) == "8192m"
    assert driver_memory(16455680 * 1024) == "8035m"  # MemTotal in kB
    assert driver_memory(64 * gib) == "32768m"
    assert driver_memory(512 * gib) == "32768m"
    assert driver_memory(1 * gib) == "1024m"


def _codegen_compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_cycle(spark):
    """A cycle of 60 plans (2 generated classes each, 120 in all, above
    Spark's default cache of 100) run twice in the same order must not
    compile again on the second pass. An LRU cache smaller than the cycle
    would recompile every class."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"

    def cycle() -> None:
        for i in range(60):  # the literal is inlined: new classes per plan
            spark.range(8).selectExpr(f"id * {i + 2} AS x").collect()

    cycle()
    before = _codegen_compiles(spark)
    cycle()
    assert _codegen_compiles(spark) - before == 0


def test_driver_memory_reads_the_host():
    mb = int(driver_memory().removesuffix("m"))
    assert 1024 <= mb <= 32768
