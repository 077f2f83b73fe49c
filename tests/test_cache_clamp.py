"""Cached-plan partition-clamp regression tests.

A materialized frame compiles its exchanges with the conf in force when
it is registered, and AQE cannot coalesce them afterwards. Every
registration in the package therefore goes through fixpoint.keep, or
hold inside a static_rounds(...) scope. These tests simulate a stock
driver session (spark.sql.shuffle.partitions=200) and assert the
materialized blocks did NOT inherit the 200 — the exact pathology that
cost 50s/22s/15s per query on stock sessions before round 4 fixed it.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@contextmanager
def stock_conf(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_triangle_caches_ignore_stock_200(spark):
    from mapreduce_sssp_spark.operators.graph_queries import (
        _part_cooccurrence_edges,
    )
    from mapreduce_sssp_spark.graph.triangles import triangle_counts

    with stock_conf(spark):
        out = triangle_counts(_part_cooccurrence_edges(spark, SF_SMOKE))
        # The final agg plans outside the clamp (AQE coalesces it on a
        # real session); the cached chain must not be 200-wide. The
        # output itself proves the chain materialized.
        assert out.count() > 0
    # All cached RDDs for this session must be narrower than stock 200.
    jsc = spark.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        assert info.numPartitions() < 200, (
            f"cached RDD {info.name()} compiled at stock 200 partitions"
        )
    spark.catalog.clearCache()


def test_similarity_cache_ignores_stock_200(spark):
    from mapreduce_sssp_spark.operators.similarity import q_similarity_ivf

    with stock_conf(spark):
        assert q_similarity_ivf(spark, SF_SMOKE).count() > 0
    jsc = spark.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        assert info.numPartitions() < 200, (
            f"cached RDD {info.name()} compiled at stock 200 partitions"
        )
    spark.catalog.clearCache()


def test_graph_query_edge_caches_ignore_stock_200(spark):
    """The r9 self-join edge/incidence caches (two_hop pair,
    bipartite_projection) must engage AND compile under the clamp, not
    at a stock session's 200 shuffle partitions."""
    from mapreduce_sssp_spark.operators.graph_queries import (
        q_bipartite_projection,
        q_two_hop_paths_capped,
    )

    with stock_conf(spark):
        for q in (q_two_hop_paths_capped, q_bipartite_projection):
            assert q(spark, SF_SMOKE).count() > 0
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    assert infos, "expected the edge/nbr subtrees to be persisted"
    for info in infos:
        assert info.numPartitions() < 200, (
            f"cached RDD {info.name()} compiled at stock 200 partitions"
        )
    spark.catalog.clearCache()


def test_sssp_prelude_caches_ignore_stock_200(spark):
    from mapreduce_sssp_spark.graph.sssp import sssp

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 5.0)],
        "src long, dst long, weight double",
    )
    with stock_conf(spark):
        out = sssp(edges, source=1)
        assert out.count() == 4
    jsc = spark.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        assert info.numPartitions() < 200, (
            f"cached RDD {info.name()} compiled at stock 200 partitions"
        )
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name",
    # Each kept its frames with a bare persist() outside the clamp.
    ["geo_dbscan_core", "mmr_rerank"],
)
def test_registry_keeps_ignore_stock_200(spark, name):
    from mapreduce_sssp_spark.queries_registry import QUERIES

    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    with stock_conf(spark):
        out = QUERIES[name](spark, SF_SMOKE)
        out.count()  # geo has no core point at sf0.001: 0 rows
        infos = [
            info for info in jsc.getRDDStorageInfo()
            if info.id() not in before
        ]
    assert infos, f"expected {name} to materialize its kept frames"
    for info in infos:
        assert info.numPartitions() < 200, (
            f"{name}: RDD {info.name()} compiled at stock 200 partitions"
        )
