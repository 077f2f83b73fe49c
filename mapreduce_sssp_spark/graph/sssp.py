"""Single-source shortest path as a DataFrame fixpoint loop.

Re-expresses the reference's chain of MapReduce jobs
(SingleSourceSP.java:398-519: format job -> iterated relax jobs -> final
job) as one driver-side loop over DataFrames:

* the tagged A/O/U shuffle union (SingleSourceSP.java:157-192) becomes a
  LEFT-outer equi-join between the node-state DataFrame (pre-seeded with
  every node that could ever receive a message, so the state side is
  always a superset of the message targets) and the per-round
  min-aggregated message DataFrame;
* the frontier gate (``dist != 65535 && adj nonempty && flag == 'Y'``,
  SingleSourceSP.java:179) becomes a filter on the ``updated`` column —
  this delta/frontier optimization is the one algorithmic idea the
  reference hand-codes that Catalyst cannot supply, so it is kept;
* the Hadoop counter convergence test (SingleSourceSP.java:273-281,
  473-481) becomes a deterministic ``count()`` action per round;
* per-round HDFS materialization (SingleSourceSP.java:513-517) becomes
  in-memory persistence with periodic reliable checkpoints to truncate
  lineage (without which the plan grows exponentially with rounds).

Scale notes (100 TB / 1000 executors):

* ``edges`` is hash-partitioned by ``src`` once, sorted within
  partitions and persisted; every round's relax join then reuses that
  layout, so only the (small) frontier side shuffles each round.
* Parallel edges are pre-reduced to min weight per (src, dst) — identical
  semantics under min-relaxation, strictly fewer shuffle bytes.
* The state side NEVER re-shuffles or re-sorts (r12): state is seeded
  with every node (src ∪ dst, flagged ``has_out``) so the per-round
  state ⟕ messages join is LEFT outer — left-outer sort-merge preserves
  the left side's partitioning AND sort order, and ``checkpoint()``
  preserves both through lineage truncation, so after the one seeding
  shuffle the only per-round exchange is the aggregated message table.
  The r11 full-outer formulation reported UnknownPartitioning and
  silently re-shuffled + re-sorted the whole state every round
  (measured: plan had Exchange+Sort on the state side each round). The
  join is pinned to sort-merge (``hint("merge")``): Catalyst's size
  estimate would otherwise broadcast the per-round message table at
  test scale, which replaces the in-job exchange with a per-round
  driver-blocking broadcast-collect job (measured 2x slower end-to-end)
  and would OOM outright on a wide frontier at cluster scale.
* The loop runs on ``fixpoint.converge``: state is materialized per
  round and the previous round released; on a cluster a reliable
  checkpoint every 5 rounds bounds both lineage depth and DAG-scheduler
  overhead.
* Skewed high-out-degree vertices are handled by AQE skew-join; the
  message aggregation is a partial-aggregating ``groupBy`` (map-side
  combine), so hot destination nodes do not funnel through one task.

Semantics preserved from the reference (SURVEY.md §2.8):

* unreachable nodes that have out-edges appear with the sentinel
  (65535.0 compat / NULL native); unreachable pure-sink nodes do not
  appear at all (they never receive a message and the format job never
  created a record for them);
* nodes first discovered mid-iteration count as "updated" that round,
  guaranteeing one extra round after any frontier expansion;
* non-negative weights are assumed (the reference silently mis-converges
  on negative cycles; we validate optionally rather than "fix" silently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .fixpoint import converge, hold, loop_partitions, static_rounds

SENTINEL = 65535.0  # SingleSourceSP.java:54


def sssp(
    edges: DataFrame,
    source: int,
    *,
    native_nulls: bool = False,
    max_rounds: int = 500,
    validate_weights: bool = False,
) -> DataFrame:
    """Converged shortest-path distances from ``source``.

    Parameters
    ----------
    edges: DataFrame with columns (src, dst, weight). Duplicate edges and
        self-loops are tolerated (min-relaxation).
    source: source node id (SingleSourceSP's ``queryNode``).
    native_nulls: if True, unreachable nodes carry NULL instead of the
        reference's 65535.0 sentinel.

    Returns (source BIGINT, node BIGINT, dist DOUBLE) — one row per node
    with out-edges plus every reachable node (FIXTURES.md B3).
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    if validate_weights:
        neg = e.filter(F.col("weight") < 0).limit(1).count()
        if neg:
            raise ValueError("sssp requires non-negative edge weights")

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        # Min-combine parallel edges, then fix the partitioning on src
        # (sorted within partitions, so per-round sort-merge relax joins
        # never re-sort the edge side) — the per-round relax join reuses
        # this layout and only the frontier side moves. With broadcasts
        # off in-loop, the frontier x edges relax join is a
        # co-partitioned, co-sorted SMJ: no exchange, no sort, no
        # per-round broadcast-build job on EITHER side.
        e = (
            e.groupBy("src", "dst")
            .agg(F.min("weight").alias("weight"))
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        # Format job (SingleSourceSP.java:56-129): one state record per
        # node — every src AND every dst (r12: dst nodes are pre-seeded
        # with has_out=false instead of being discovered by the
        # full-outer join mid-loop, which is what lets every round's
        # state join be LEFT outer and the state side keep its
        # partitioning + sort order for the whole loop). Source seeded
        # to 0.0, everything else "infinity" (NULL) — then pre-relaxed
        # one hop: the source's out-edges are folded in at init, which
        # is exactly round 1's relaxation, so the loop starts one round
        # ahead. Non-negative weights mean the source itself can never
        # improve, so only its neighbors start "updated". Reference
        # output semantics (B3: unreachable pure sinks absent) are
        # restored by the final has_out/dist filter.
        nodes = (
            e.select(F.col("src").alias("node"), F.lit(True).alias("has_out"))
            .unionByName(
                e.select(
                    F.col("dst").alias("node"), F.lit(False).alias("has_out")
                )
            )
            .groupBy("node")
            .agg(F.max("has_out").alias("has_out"))
        )
        hop1 = e.filter(F.col("src") == source).select(
            F.col("dst").alias("node"), F.col("weight").alias("cand")
        )
        state = hold(
            nodes.join(hop1, "node", "left").select(
                "node",
                "has_out",
                F.least(
                    F.when(F.col("node") == source, F.lit(0.0)), "cand"
                ).alias("dist"),
                ((F.col("node") != source) & F.col("cand").isNotNull()).alias(
                    "updated"
                ),
            )
        )

        def relax(state: DataFrame, _n) -> DataFrame:
            # Frontier: only nodes whose distance changed last round emit
            # relaxations (SingleSourceSP.java:179).
            frontier = state.filter(
                F.col("updated") & F.col("dist").isNotNull()
            ).select(F.col("node").alias("f_node"), F.col("dist").alias("f_dist"))
            msgs = frontier.join(e, frontier["f_node"] == e["src"]).select(
                F.col("dst").alias("node"),
                (F.col("f_dist") + F.col("weight")).alias("cand"),
            )
            # Min relaxation with map-side partial aggregation
            # (SingleSourceSP.java:214-250).
            cand = msgs.groupBy("node").agg(F.min("cand").alias("cand"))

            # Tagged-union reduce-side join (SingleSourceSP.java:205-293),
            # LEFT outer: state is a superset of the message targets by
            # construction, so nothing is discovered join-side, and the
            # state side's partitioning + sort order survive the round
            # (see module docstring; broadcasts are off in-loop so the
            # message side is never broadcast-collected per round).
            return state.join(cand, "node", "left").select(
                "node",
                "has_out",
                F.least("dist", "cand").alias("dist"),
                # NULL-safe inequality: newly-discovered nodes (old
                # NULL) count as updated, SingleSourceSP.java:273-281.
                (~F.least("dist", "cand").eqNullSafe(F.col("dist"))).alias(
                    "updated"
                ),
            )

        state = converge(
            "sssp",
            state,
            relax,
            lambda s: s.filter("updated"),
            every=5,
            max_rounds=max_rounds,
        )
    # The per-round count() actions materialized the final state in cache
    # (or checkpoint); the edge cache is no longer needed.
    e.unpersist()

    # Final job (SingleSourceSP.java:285-288,484-508): project
    # (source, node, dist); sentinel for unreachable in compat mode.
    # Pre-seeded pure-sink nodes that never received a message carry
    # dist NULL and has_out false — exactly the rows the reference never
    # creates (B3), dropped here.
    dist_col = (
        F.col("dist") if native_nulls else F.coalesce("dist", F.lit(SENTINEL))
    )
    out = state.filter(F.col("has_out") | F.col("dist").isNotNull()).select(
        F.lit(int(source)).cast("long").alias("source"),
        "node",
        dist_col.alias("dist"),
    )
    return out
