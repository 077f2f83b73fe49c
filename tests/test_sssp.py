"""SSSP unit/property tests over the FIXTURES.md §C edge-case graphs plus
a fixed-seed random graph cross-checked against pure-Python Dijkstra.
"""

from __future__ import annotations

import heapq
import random

import pytest
from pyspark.sql import functions as F

from mapreduce_sssp_spark.graph.sssp import SENTINEL, sssp


def _edges_df(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, weight double")


def _run(spark, triples, source, **kw):
    out = sssp(_edges_df(spark, triples), source, **kw)
    return {r["node"]: r["dist"] for r in out.collect()}


def dijkstra(triples, source):
    """Reference semantics: result covers nodes with out-edges plus
    reachable nodes; unreachable out-edge nodes get the sentinel."""
    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in triples:
        adj.setdefault(s, []).append((d, w))
    dist = {source: 0.0} if source in adj else {}
    pq = [(0.0, source)] if source in adj else []
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    out = {n: dist.get(n, SENTINEL) for n in adj}  # every node with out-edges
    out.update({n: d for n, d in dist.items()})  # plus reachable nodes
    return out


def test_single_edge(spark):
    got = _run(spark, [(1, 2, 1.0)], 1)
    assert got == {1: 0.0, 2: 1.0}


def test_source_has_no_out_edges_and_is_not_a_src(spark):
    # Reference: format job only creates records for src nodes; a source
    # that never appears as src produces no 0-distance row.
    got = _run(spark, [(1, 2, 1.0)], 99)
    assert got == {1: SENTINEL}


def test_self_loop(spark):
    got = _run(spark, [(1, 1, 1.0), (1, 2, 3.0)], 1)
    assert got == {1: 0.0, 2: 3.0}


def test_duplicate_edges_min_semantics(spark):
    got = _run(spark, [(1, 2, 5.0), (1, 2, 3.0)], 1)
    assert got == {1: 0.0, 2: 3.0}


def test_diamond_path_choice(spark):
    triples = [(1, 2, 1.0), (1, 3, 4.0), (2, 3, 1.0), (3, 4, 1.0)]
    got = _run(spark, triples, 1)
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}


def test_disconnected_component_sentinel_and_native_null(spark):
    triples = [(1, 2, 1.0), (3, 4, 1.0)]
    assert _run(spark, triples, 1) == {1: 0.0, 2: 1.0, 3: SENTINEL}
    native = _run(spark, triples, 1, native_nulls=True)
    assert native == {1: 0.0, 2: 1.0, 3: None}


def test_zero_weight_edge(spark):
    got = _run(spark, [(1, 2, 0.0), (2, 3, 1.0)], 1)
    assert got == {1: 0.0, 2: 0.0, 3: 1.0}


def test_line_graph_many_rounds_checkpoint_discipline(spark):
    k = 20
    triples = [(i, i + 1, 1.0) for i in range(1, k)]
    got = _run(spark, triples, 1)
    # node k has no out-edges but is reachable, so it appears too
    assert got == {i: float(i - 1) for i in range(1, k + 1)}


def test_negative_weight_validation(spark):
    with pytest.raises(ValueError):
        _run(spark, [(1, 2, -1.0)], 1, validate_weights=True)


def test_random_graph_vs_dijkstra(spark):
    rng = random.Random(42)
    n, m = 60, 400
    triples = [
        (rng.randrange(n), rng.randrange(n), float(rng.randint(1, 9)))
        for _ in range(m)
    ]
    got = _run(spark, triples, 0)
    assert got == dijkstra(triples, 0)


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long, weight double")
    assert sssp(df, 1).count() == 0


def test_output_schema(spark):
    out = sssp(_edges_df(spark, [(1, 2, 1.0)]), 1)
    assert [f.name for f in out.schema.fields] == ["source", "node", "dist"]
    assert {r["source"] for r in out.collect()} == {1}
