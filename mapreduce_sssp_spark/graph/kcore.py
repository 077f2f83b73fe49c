"""k-core decomposition by delta peeling — the fourth fixpoint pattern
in the engine, next to sssp (min-relaxation), wcc (label propagation +
pointer jumping) and pagerank (power iteration). Peeling is *monotone
deletion*: each round removes every node whose degree dropped below k,
which decrements neighbors' degrees and may cascade; the k-core is the
(unique, order-independent) fixed point.

Formulation notes — two designs were measured, one blows up:

* **Edge-filter peeling** (re-semi-join the live edge list against
  survivors every round) references the previous round's DataFrame
  THREE times per round, so the logical plan grows ~3^rounds; Catalyst
  re-optimizes the whole tree each action and round 5 at sf0.1 spent
  293 s in planning, data untouched. Caching does not help — persist
  stores data, not plan size.
* **Degree-delta peeling** (this implementation) keeps the edge list
  STATIC (partitioned once, persisted) and iterates only a
  (node, deg, alive) state: doomed nodes send -1 messages along their
  edges, survivors subtract. The state is referenced twice per round
  (sssp's shape), and the loop runs on fixpoint.converge like sssp's —
  per-round lineage cuts, a reliable checkpoint every 3 rounds on a
  cluster, self-sufficient on any session.

Round shape: doomed count (the one action — convergence test AND
materialization), doomed->neighbor decrement messages (join against the
static edges + partial-agg), state update (left join). Message volume
is proportional to the degrees of *removed* nodes only — the delta —
not to the live edge count.

At 100 TB: the static edge list is hash-partitioned on src once and
never re-shuffled; each round shuffles only the decrement messages
(shrinking every round). The doomed set is broadcast (node list, orders
smaller than edges); if a pathological first round dooms too many nodes
for a broadcast, remove the hint and AQE falls back to a shuffle join —
the round shape is unchanged.

No DuckDB oracle: global iterate-until-fixpoint with deletion is not
expressible in DuckDB 1.0's recursive CTEs (same class as ``sssp`` on a
cyclic graph). Driver records rows-only; tests/test_kcore.py
cross-checks against a pure-Python peel on hand-built and randomized
graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import converge, hold, loop_partitions, static_rounds


def kcore(edges: DataFrame, k: int, *, max_rounds: int = 100) -> DataFrame:
    """Nodes of the k-core of an undirected graph given as canonical
    (u < v) distinct edges; returns (node, core_deg) where core_deg is
    the node's degree inside the k-core (>= k by definition)."""
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    def doomed(state: DataFrame) -> DataFrame:
        return state.filter(F.col("alive") & (F.col("deg") < k)).select("node")

    def peel(state: DataFrame, _n) -> DataFrame:
        gone = F.broadcast(doomed(state).withColumnRenamed("node", "u"))
        msgs = (
            und.join(gone, "u")
            .groupBy("v")
            .agg(F.count("*").alias("dec"))
            .select(F.col("v").alias("node"), "dec")
        )
        return state.join(msgs, "node", "left").select(
            "node",
            (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg"),
            # alive judged on the OLD degree: this round's doomed die,
            # survivors carry the decremented degree into next round.
            (F.col("alive") & (F.col("deg") >= k)).alias("alive"),
        )

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        # Both directions so every edge is visible from each endpoint;
        # partitioned once on u (the message-join key), never
        # re-shuffled.
        und = hold(
            edges.select("u", "v")
            .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition(n_part, "u")
        )
        state = hold(
            und.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .select(F.col("u").alias("node"), "deg", F.lit(True).alias("alive"))
        )
        # The doomed count is the one action per round: it materializes
        # the state AND tests the fixed point, before the peel.
        state = converge(
            "kcore",
            state,
            peel,
            doomed,
            every=3,
            max_rounds=max_rounds,
            test_first=True,
        )
    out = state.filter("alive").select("node", F.col("deg").alias("core_deg"))
    und.unpersist()
    return out
