"""Synchronous label propagation (community detection) as a DataFrame
fixed-iteration loop — the sixth iterative operator on the engine's BSP
pattern (SURVEY.md §2.8; SingleSourceSP.java:398-519 is the reference's
iterated-job shape this family maps onto).

Semantics (deterministic by construction, so the driver can hash-check
it cross-engine — the reason for these exact choices):

* labels start as the node's own id;
* each round, every node adopts the most frequent label among its
  NEIGHBORS' previous-round labels (its own label does not vote), ties
  broken by the smallest label — implemented as the single-shuffle
  ``mode(label, true)`` JVM aggregate (deterministic = lowest on ties),
  with no randomness;
* a fixed ``rounds`` count (like pagerank's fixed power iterations):
  classic LPA's run-to-convergence is order-dependent and may oscillate
  on bipartite structures under synchronous update, whereas a bounded
  round count is reproducible everywhere and oracle-able as unrolled
  SQL stages.

At 100 TB: the symmetrized edge list is hash-partitioned on src once
and persisted; each round shuffles only the label table (one row per
node) into the join, and both the (node, label) count and the per-node
argmax partial-aggregate map-side. A celebrity node with 10^6 equal
neighbor labels combines to one row before the shuffle. Skewed label
values (big communities) sit on the GROUP BY side, not a join key, so
no salting is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import hold, keep, loop_partitions, static_rounds


def label_propagation(edges: DataFrame, *, rounds: int = 4) -> DataFrame:
    """Communities after ``rounds`` synchronous majority-vote rounds.

    edges: DataFrame with (u, v) canonical undirected pairs (u < v as
    produced by canonical_edges; duplicates collapse). Every node in
    ``edges`` has >= 1 neighbor by construction, so the neighbor vote is
    always non-empty. Returns (node BIGINT, community BIGINT).
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    # The prelude is kept under a core-count clamp (fixpoint.keep), the
    # loop runs under the data-sized n_part — wcc.py has the measured
    # rationale (the prelude's pair-generation + distinct is the
    # heaviest shuffle and wants every core; n_part is sized for the
    # small per-round label shuffles).
    pairs = edges.select(
        F.col("u").cast("long").alias("src"),
        F.col("v").cast("long").alias("dst"),
    ).distinct()
    und = keep(
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
    )

    # r13 (VERDICT r12 item 3): the r12 cadence — eager localCheckpoint
    # + count per round — paid 4 materializations + 4 driver round
    # trips for rounds whose lineage is LINEAR (each round references
    # the previous labels exactly once, via the vote join), so nothing
    # doubles if the rounds chain lazily. Now the whole fixed-round
    # chain materializes as ONE job: per round the vote join is a
    # co-partitioned SMJ (und fixed on src at n_part; labels land on
    # node = the renamed src from the previous round's groupBy, same
    # n_part) with ZERO exchange, and the mode() groupBy is the round's
    # one shuffle. no_broadcast keeps Catalyst's size estimate from
    # replacing that in-job SMJ with a per-round driver-blocking
    # broadcast build of the label table (and at 100 TB the label table
    # is |V|-sized — never broadcastable). Measured vs the r12 cadence
    # (bench methodology, min-of-3, sf0.1): 5.9-6.1 s -> 3.9 s.
    with static_rounds(spark, parts=n_part, no_broadcast=True):
        # Round-0 labels land at n_part (inside the loop clamp), so the
        # round-1 vote join is already co-partitioned with und.
        labels = (
            und.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        for _ in range(rounds):
            # und row (src=m, dst=n): neighbor m votes its label for n.
            votes = und.join(
                labels.withColumnRenamed("node", "src"), "src"
            ).select(F.col("dst").alias("node"), "label")
            # mode(label, true) = most frequent, ties to the LOWEST value
            # — exactly the majority-vote semantics — in ONE aggregation
            # (one shuffle per round) where the groupBy(node, label).count
            # + argmax formulation costs two. The partial-agg buffer is a
            # per-node label-count map bounded by degree, and it combines
            # map-side like any count.
            labels = votes.groupBy("node").agg(
                F.expr("mode(label, true)").alias("label")
            )
        # One cut for the whole chain, materialized under the clamp so
        # the caller's action replays a flat node-sized frame instead of
        # re-running 4 rounds at the session's stock shuffle partitions.
        labels = hold(labels)
        labels.count()

    und.unpersist()
    return labels.select("node", F.col("label").alias("community"))
