"""k-truss decomposition — the EDGE-grained peeling fixpoint, twelfth
in the engine and the edge analog of kcore's vertex peel: the k-truss
is the maximal subgraph in which every edge closes >= k-2 triangles
*within the subgraph*. Communities survive (their edges reinforce each
other); bridges and noise edges peel away — the standard
community-core / spam-edge filter one level stronger than k-core
(every k-truss is inside the (k-1)-core, never vice versa).

Round shape: recompute per-edge support (common-neighbor count) on the
REMAINING edge set — one adjacency build (groupBy collect_list) + two
array joins + a codegen'd array_intersect, the same intersection
discipline as triangles.py — then drop edges under k-2 and cascade.
One count() action per round is both the convergence test and the
materialization barrier. Unlike kcore (whose messages are deltas), the
support must be recomputed per round because removing ONE edge can
break triangles anywhere its endpoints co-occur; the saving grace,
measured at sf0.1: round 1 removes ~90% of edges (1.07M of 1.20M), so
every later round runs on the small survivor core — the work profile
is one triangle-scale pass plus a geometric tail, converging in 2
rounds at sf0.1 / 7 at sf0.01.

At 100 TB: adjacency arrays are per-node (hub-bounded — the
reverse_graph ceiling note applies; a hub-heavy graph would orient
edges by degree first, the triangles.py insurance, at the cost of
splitting each intersection into three oriented probes); the edge
state is hash-partitioned on u once per round and shrinks
geometrically. On a cluster a reliable checkpoint every 2 rounds bounds
lineage (the round plan is two joins deep — shallower than scc's
peel/confirm chain, so sssp-style cadence suffices).

The DuckDB twin unrolls the rounds exactly (graph_queries.
_ktruss_oracle_sql) — support recount per round as MATERIALIZED CTEs —
so this removal fixpoint is fully value-hash-checked, like mis_greedy
and unlike kcore's rows-only row. tests/test_mis.py referees against a
pure-Python synchronous peel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .fixpoint import converge, hold, loop_partitions, static_rounds


def ktruss(edges: DataFrame, k: int, *, max_rounds: int = 16) -> DataFrame:
    """k-truss of an undirected graph given as canonical (u < v)
    distinct edges. Returns (u, v, support): the surviving edges with
    their within-truss common-neighbor counts (all >= k-2)."""
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    def support(live: DataFrame) -> DataFrame:
        und = live.union(
            live.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition(n_part, "u")
        adj = und.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
        return (
            live.join(
                adj.select(
                    F.col("u").alias("ua"), F.col("nbrs").alias("nbrs_a")
                ),
                F.col("u") == F.col("ua"),
            )
            .join(
                adj.select(
                    F.col("u").alias("ub"), F.col("nbrs").alias("nbrs_b")
                ),
                F.col("v") == F.col("ub"),
            )
            .select(
                "u",
                "v",
                F.size(F.array_intersect("nbrs_a", "nbrs_b")).alias("support"),
            )
        )

    def doomed(sup: DataFrame) -> DataFrame:
        return sup.filter(F.col("support") < k - 2)

    # The loop state is the support table. The surviving edge list is
    # held per round as well (it is referenced three times per round:
    # und's two branches + the support join); the previous one drops at
    # the next peel, once the support table built from it is filled.
    def peel(sup: DataFrame, _n) -> DataFrame:
        nonlocal cur
        cur.unpersist()
        cur = hold(sup.filter(F.col("support") >= k - 2).select("u", "v"))
        return support(cur)

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        cur = edges.select("u", "v").persist(StorageLevel.MEMORY_AND_DISK)
        # The doomed-edge count is the one action per round: the
        # convergence test and the barrier that fills this round's
        # support table.
        sup = converge(
            "ktruss",
            hold(support(cur)),
            peel,
            doomed,
            every=2,
            max_rounds=max_rounds,
            test_first=True,
        )
    cur.unpersist()
    return sup.filter(F.col("support") >= k - 2)
