"""The fixpoint runtime: a loop that runs out of rounds says so (one
RuntimeWarning that names the loop and how many rows were still
changing), and keep() registers a frame without starting a job."""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from mapreduce_sssp_spark.graph.sssp import sssp
from mapreduce_sssp_spark.graph.wcc import wcc


def _runtime_warnings(fn) -> list[str]:
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fn()
    return [str(w.message) for w in caught if w.category is RuntimeWarning]


def test_sssp_out_of_rounds_warns_once(spark):
    # 20-node line: the source's hop is folded into the set-up, so round
    # 1 reaches node 3 and exactly one node is still updating.
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, 20)],
        "src long, dst long, weight double",
    )
    msgs = _runtime_warnings(lambda: sssp(edges, 1, max_rounds=1).collect())
    assert len(msgs) == 1
    assert msgs[0].startswith("sssp: max_rounds=1 exhausted with 1 rows")


def test_wcc_out_of_rounds_warns_once(spark):
    # Chain 1-2-...-10: the set-up labels n with n-1; round 1 propagates
    # and pointer-jumps, lowering every label from node 3 on (8 nodes).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "src long, dst long"
    )
    msgs = _runtime_warnings(lambda: wcc(edges, max_rounds=1).collect())
    assert len(msgs) == 1
    assert msgs[0].startswith("wcc: max_rounds=1 exhausted with 8 rows")


def test_converged_loop_does_not_warn(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert _runtime_warnings(lambda: wcc(edges).collect()) == []


def test_keep_registers_without_a_job(spark):
    """keep() registers its frame with AQE off: with AQE on, a lazy
    localCheckpoint plans adaptively and runs the subtree's shuffle
    stage at call time. The control call shows the probe sees that."""
    from mapreduce_sssp_spark.graph.fixpoint import keep

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        sc.setJobGroup("keep-lazy", "keep registration")
        kept = keep(df)
        assert tracker.getJobIdsForGroup("keep-lazy") == []
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # A fresh frame: df's physical plan is now fixed non-adaptive.
        fresh = spark.range(1000).groupBy((F.col("id") % 7).alias("k"))
        sc.setJobGroup("lazy-control", "AQE-on lazy localCheckpoint")
        fresh.count().localCheckpoint(eager=False)
        assert tracker.getJobIdsForGroup("lazy-control") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert sorted(kept.collect()) == sorted(df.collect())


def test_hold_keeps_partitioning_through_a_no_op_alias(spark):
    """A no-op cast alias over an aggregate's output (src is already a
    long after the distinct) must not cost the leaf its partitioning: a
    groupBy on the partitioning key needs no exchange."""
    from mapreduce_sssp_spark.graph.fixpoint import hold, static_rounds

    base = spark.range(100).selectExpr("id % 10 AS src", "id AS dst").distinct()
    df = (
        base.select(F.col("src").cast("long").alias("src"), "dst")
        .groupBy("src", "dst")
        .count()
        .repartition(4, "src")
    )
    with static_rounds(spark):
        leaf = hold(df)
        plan = leaf.groupBy("src").count()._jdf.queryExecution()
        assert "Exchange" not in plan.executedPlan().toString()
