"""A fixpoint that runs out of rounds says so: one RuntimeWarning that
names the loop and how many rows were still changing."""

from __future__ import annotations

import warnings

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
