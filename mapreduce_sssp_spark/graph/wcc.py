"""Weakly-connected components as a DataFrame fixpoint loop — the second
iterative operator built on the engine's BSP pattern (SURVEY.md §2.8:
the reference's defining feature is the counter-driven fixpoint;
SingleSourceSP.java:439-519 is min-distance relaxation, this is
min-label propagation over the undirected closure).

Same scale posture as sssp(): edges symmetrized + min-combined once and
hash-partitioned on src; per round one join (frontier x edges) and one
min-aggregation; frontier gating (only nodes whose label changed emit);
deterministic count() convergence on fixpoint.converge (reliable
checkpoint every 5 rounds on a cluster); caches unpersisted eagerly.

Plain propagation needs diameter rounds (a 10^6-hop chain at 100 TB
would need 10^6 shuffles). Each round therefore also SHORTCUTS labels —
``label[n] := label[label[n]]`` (pointer jumping, the standard trick
from PRAM connectivity / Kiveris et al.'s large-star-small-star): safe
because labels only decrease and a node's label is always in its own
component, and it composes hops so reach doubles per round ->
O(log diameter) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import converge, keep, loop_partitions, static_rounds


def wcc(edges: DataFrame, *, max_rounds: int = 200) -> DataFrame:
    """(node BIGINT, component BIGINT): component = min node id reachable
    treating edges as undirected. Isolated src/dst nodes keep themselves.
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    fwd = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    # The prelude is kept under a CORE-COUNT clamp (fixpoint.keep), the
    # loop runs under the data-sized n_part. Two clamps on purpose: the
    # prelude's distinct over the doubled edge list is the heaviest
    # single shuffle in wcc and wants every core, while n_part is sized
    # for the loop's small per-round frontier shuffles (clamping the
    # prelude to n_part measured 12.9s -> 22.0s at sf0.1).
    und = keep(
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(n_part, "src")
    )

    # Initialize label = min(node, min neighbor) rather than node: this
    # is exactly round 1's propagation result, computed in the prelude
    # for (almost) free — und is already partitioned by src, so the
    # groupBy(src).min(dst) aggregates exchange-free and the loop starts
    # one round ahead (~1 round of 4-6 saved; every label is still a
    # node id inside its own component, so pointer jumping's label
    # lookup and the min-lattice argument hold). Round 1's count fills
    # both frames in one job.
    state = keep(
        und.groupBy("src")
        .agg(F.min("dst").alias("min_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "min_nbr").alias("component"),
        )
        .withColumn("updated", F.lit(True))
    )

    def propagate(state: DataFrame, _n) -> DataFrame:
        frontier = state.filter("updated").select(
            F.col("node").alias("f_node"), F.col("component").alias("f_comp")
        )
        msgs = frontier.join(und, frontier["f_node"] == und["src"]).select(
            F.col("dst").alias("node"), F.col("f_comp").alias("cand")
        )
        cand = msgs.groupBy("node").agg(F.min("cand").alias("cand"))
        propagated = state.join(cand, "node", "left").select(
            "node",
            F.least("component", "cand").alias("component"),
            F.col("component").alias("old_comp"),
        )
        # Pointer jumping: label <- label[label]. The join key is the
        # label value — skewed by construction (every member of a big
        # component carries the same label; salt this key on a known
        # power-law graph — see static_rounds on why not AQE here);
        # labels are node ids so the lookup side is state itself.
        labels = state.select(
            F.col("node").alias("l_node"), F.col("component").alias("l_comp")
        )
        return (
            propagated.join(
                labels, propagated["component"] == labels["l_node"], "left"
            )
            .select(
                "node",
                F.least("component", "l_comp").alias("new_comp"),
                "old_comp",
            )
            .select(
                "node",
                F.col("new_comp").alias("component"),
                (F.col("new_comp") < F.col("old_comp")).alias("updated"),
            )
        )

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        state = converge(
            "wcc",
            state,
            propagate,
            lambda s: s.filter("updated"),
            every=5,
            max_rounds=max_rounds,
        )
    und.unpersist()
    return state.select("node", "component")
