"""HITS (Kleinberg hubs & authorities) as a DataFrame fixpoint loop —
the mutual-recursion power iteration next to pagerank's single-vector
one, riding the same physical discipline the reference's iterated-job
chain maps onto (SingleSourceSP.java:398-519's loop shape: partition-once
edge side, per-round message aggregation, per-round materialization,
periodic lineage truncation).

Semantics (fixed ``iterations`` synchronous rounds):

* ``auth_{t+1}(v) = sum over edges u->v of hub_t(u)``
* ``hub_{t+1}(u) = sum over edges u->v of auth_{t+1}(v)``
* ONE L1 normalization at the end (each vector divided by its sum).

Normalization placement is a deliberate scale choice: per-round
normalization needs a global scalar aggregate INSIDE every round's
lineage — either a driver collect or a re-evaluated broadcast subtree —
while the updates themselves are linear, so every intermediate scaling
commutes to the end. Unnormalized magnitudes after k rounds are bounded
by (max singular value)^(2k) ~ (max degree)^(2k); at 6 rounds even a
degree-10^6 celebrity stays under 1e72, far inside double range, and
the final division restores the distribution exactly as the textbook
per-round variant would (same direction, same ranking). The per-round
reduce is a float SUM (order-sensitive in the last ulps), so callers
who need a hash-stable projection quantize round(x*1e9) — cross-engine
divergence after 6 rounds is ~1e-15 relative, nine orders under that
quantum.

At 100 TB: the edge relation is deduplicated and persisted ONCE in each
join orientation (src-keyed for the hub->auth push, dst-keyed for the
auth->hub pull); each round shuffles only the two node-sized score
vectors. Both per-round aggregations partial-combine map-side, so a
celebrity authority with 10^6 in-links costs one combiner tree, not one
reducer. Two count() actions per round (auth vector, then the joined
scores) materialize each half-update exactly once; on a cluster a
reliable checkpoint every 5 rounds truncates lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import converge, hold, loop_partitions, static_rounds


def hits(edges: DataFrame, *, iterations: int = 6) -> DataFrame:
    """Hub/authority scores after ``iterations`` synchronous rounds.

    edges: DataFrame with (src, dst); parallel edges collapse to one
    link (HITS on the simple digraph). Returns
    (node BIGINT, hub DOUBLE, auth DOUBLE); each column sums to 1 up to
    float error.
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        e = hold(
            edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            .distinct()
        )
        nodes = hold(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .repartition(n_part, "node")
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            # Empty edge input: return the typed empty frame instead of
            # dividing by the zero node count.
            e.unpersist()
            nodes.unpersist()
            return spark.createDataFrame(
                [], "node bigint, hub double, auth double"
            )
        fwd = hold(e.repartition(n_part, "src"))
        rev = hold(e.repartition(n_part, "dst"))

        hubs = hold(nodes.select("node", F.lit(1.0 / n_nodes).alias("hub")))

        # Both per-round vectors (auths half-update, joined scores) are
        # cut per round: each is referenced twice downstream, the
        # doubling class. A round's auths drop at the next round, once
        # the scores built from them are filled.
        prev_auths = None

        def half_steps(scores: DataFrame, _n) -> DataFrame:
            nonlocal prev_auths
            hubs = scores.select("node", "hub")
            a_raw = (
                fwd.join(hubs, fwd["src"] == hubs["node"])
                .groupBy("dst")
                .agg(F.sum("hub").alias("a_raw"))
            )
            auths = hold(
                nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left")
                .select("node", F.coalesce("a_raw", F.lit(0.0)).alias("auth"))
            )
            auths.count()
            if prev_auths is not None:
                prev_auths.unpersist()
            prev_auths = auths
            h_raw = (
                rev.join(
                    auths.withColumnRenamed("node", "anode"),
                    rev["dst"] == F.col("anode"),
                )
                .groupBy("src")
                .agg(F.sum("auth").alias("h_raw"))
            )
            return (
                nodes.join(h_raw, nodes["node"] == h_raw["src"], "left")
                .select("node", F.coalesce("h_raw", F.lit(0.0)).alias("hub"))
                .join(auths, "node")
                .select("node", "hub", "auth")
            )

        scores = converge(
            "hits", hubs, half_steps, every=5, max_rounds=iterations
        )

        # One global normalization, after the loop: two broadcast 1-row
        # totals over the cached final vectors.
        tot = F.broadcast(
            scores.agg(
                F.sum("hub").alias("h_tot"), F.sum("auth").alias("a_tot")
            )
        )
        out = scores.crossJoin(tot).select(
            "node",
            (F.col("hub") / F.col("h_tot")).alias("hub"),
            (F.col("auth") / F.col("a_tot")).alias("auth"),
        )
        out = hold(out)
        out.count()

    e.unpersist()
    fwd.unpersist()
    rev.unpersist()
    nodes.unpersist()
    prev_auths.unpersist()
    scores.unpersist()
    return out
