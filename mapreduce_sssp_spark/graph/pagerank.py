"""PageRank as a DataFrame fixpoint loop — the third iterative operator
next to sssp and wcc, reusing the same physical discipline the reference's
iterated-job chain maps onto (SingleSourceSP.java:398-519's loop shape:
partition-once edge side, per-round message aggregation, per-round
materialization, periodic lineage truncation).

Differences from the min-relaxation loops:

* the per-round reduce is a SUM of float contributions (not min), so
  results are order-sensitive in the last ulps — the query ships as a
  rows-only driver check and is cross-verified against a numpy power
  iteration in tests/test_pagerank.py at 1e-9 relative tolerance;
* no frontier: every node's rank moves every round, so the loop runs a
  fixed ``iterations`` count (bounded, reproducible cost) rather than a
  convergence count();
* dangling mass (ranks of nodes with no out-edges) is aggregated to a
  one-row DataFrame and broadcast into the rank update, so each round
  is a single Spark action (the materializing count()) — no separate
  driver collect per round.

At 100 TB: edges are hash-partitioned on src once and persisted; each
round shuffles only the rank table (one row per node). The contribution
aggregation is a partial-aggregating groupBy — a celebrity node with
10^6 in-edges combines map-side. AQE skew-join covers hub out-degrees
on the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .fixpoint import converge, hold, loop_partitions, static_rounds


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 10,
    source: int | None = None,
) -> DataFrame:
    """Ranks after ``iterations`` synchronous power-iteration rounds.

    edges: DataFrame with (src, dst) columns; parallel edges collapse to
    one link (standard PageRank on the simple digraph).
    Returns (node BIGINT, rank DOUBLE); ranks sum to 1 up to float error.

    ``source`` switches to PERSONALIZED PageRank: the teleport vector is
    the indicator of that node instead of uniform — initial rank 1 at
    the source, the (1-d) restart and the dangling mass both land
    entirely on the source. Same loop, same per-round physics; only the
    three occurrences of the teleport distribution change, which is the
    whole definition of PPR.
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        e = (
            edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            .distinct()
            .repartition(n_part, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            # Empty edge input: no nodes, no ranks — return the typed
            # empty frame instead of dividing by the zero node count.
            e.unpersist()
            nodes.unpersist()
            return spark.createDataFrame([], "node bigint, rank double")

        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # Edge side carries 1/deg so each round multiplies, never
        # re-divides.
        links = (
            e.join(deg, "src")
            .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("inv_deg"))
            .repartition(n_part, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        e.unpersist()

        if source is None:
            init_rank = F.lit(1.0 / n_nodes)
            base_col = F.lit((1.0 - damping) / n_nodes)
            dangling_share = F.col("dangling") / F.lit(float(n_nodes))
        else:
            ind = F.when(F.col("node") == source, F.lit(1.0)).otherwise(
                F.lit(0.0)
            )
            init_rank = ind
            base_col = F.lit(1.0 - damping) * ind
            dangling_share = F.col("dangling") * ind
        ranks = hold(nodes.select("node", init_rank.alias("rank")))

        has_out = deg.select(F.col("src").alias("node")).persist(
            StorageLevel.MEMORY_AND_DISK
        )

        def power_step(ranks: DataFrame, _n) -> DataFrame:
            # Dangling mass (rank on nodes with no out-edges) as a 1-row
            # DataFrame broadcast into the update — the round's single
            # count() action then materializes the whole chain, where the
            # old driver-side collect() cost an extra job launch per round.
            dangling_df = F.broadcast(
                ranks.join(has_out, "node", "left_anti").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
                )
            )
            contribs = (
                ranks.join(links, ranks["node"] == links["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("inv_deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("contrib"))
            )
            return (
                nodes.join(contribs, "node", "left")
                .crossJoin(dangling_df)
                .select(
                    "node",
                    (
                        base_col
                        + F.lit(damping)
                        * (F.coalesce("contrib", F.lit(0.0)) + dangling_share)
                    ).alias("rank"),
                )
            )

        ranks = converge(
            "pagerank", ranks, power_step, every=5, max_rounds=iterations
        )

    links.unpersist()
    nodes.unpersist()
    has_out.unpersist()
    return ranks
