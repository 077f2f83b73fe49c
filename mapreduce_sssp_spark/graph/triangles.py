"""Triangle counting with degree-ordered orientation.

Fourth graph-analytics operator next to sssp/wcc/pagerank — the
join-based (non-iterative) family. The reference has no triangle
operator; this extends the §2.8 graph surface the way a user of a
graph engine would expect (clustering-coefficient numerator, community
pre-filters).

Algorithm (Schank-Wagner / "forward" orientation, the standard
distributed formulation used by GraphX and Cohen's MR paper):

1. canonical undirected edges (u < v, distinct);
2. degree of every node;
3. orient every edge from the lexicographically smaller (degree, node)
   endpoint to the larger — each node's *out*-degree is then bounded by
   O(sqrt(m));
4. out-adjacency arrays per node (collect_list over oriented edges —
   bounded by step 3, so no hub array);
5. per-edge closure: for oriented edge (a, b), every common element of
   adj(a) and adj(b) closes a triangle (a, b, c) with c the
   highest-rank corner — ``array_intersect`` + ``explode``, JVM-side;
6. per-node counts: explode the three corners, groupBy-count.

The naive alternative (self-join edges on source into explicit wedge
rows, then equi-join the closing edge) shuffles every wedge: 41M rows
at sf0.1 vs the 1.2M edge rows this plan shuffles — measured 2.3x
slower end-to-end. Intersection work is identical, but it happens
inside a codegen'd expression on co-partitioned rows instead of across
an exchange.

At 100 TB: two shuffles (degree agg + adjacency build on src, probe
join on dst). Step 3 is the scale insurance twice over — it bounds
both the wedge work per edge and the adjacency-array length
(O(sqrt(m)) elements), so no hub can produce an unboundedly long
``collect_list`` (the failure mode SCALE.md flags for reverse_graph).
AQE skew-join splits any residual hot partition.

The DuckDB oracle (graph_queries.py) enumerates the same triangle set
via the canonical a<b<c three-way self-join — orientation changes the
join order, never the result multiset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .fixpoint import loop_partitions, static_rounds


def canonical_edges(pairs: DataFrame) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v from any (u, v)
    pair stream (self-loops dropped)."""
    u, v = F.col("u"), F.col("v")
    return (
        pairs.where(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over canonical (u < v)
    undirected edges. Returns (node, n_tri), nodes in >=1 triangle."""
    _, _, tris = _closure_triples(edges)
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


def edge_tie_strength(edges: DataFrame) -> DataFrame:
    """Per-edge neighborhood overlap (tie strength / embeddedness) over
    canonical (u < v) undirected edges: for every edge, the number of
    common neighbors of its endpoints (== triangles through the edge)
    and the Jaccard coefficient of the two neighborhoods (endpoints
    excluded) — the classic Granovetter tie-strength / link-analysis
    feature. Returns (u, v, n_common, deg_u, deg_v, jaccard).

    Rides the same degree-oriented closure as triangle_counts — each
    triangle is enumerated once and credited to its three edges, so the
    per-edge common-neighbor count never probes a hub's full
    neighborhood pair-wise. jaccard is a single int/int double division
    (correctly rounded, identical in DuckDB), 0.0 when the union is
    empty.
    """
    edges, deg, tris = _closure_triples(edges)

    def _pair(x, y):
        return F.struct(
            F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
        )

    a, b, c = F.col("a"), F.col("b"), F.col("c")
    tri_edges = tris.select(
        F.explode(F.array(_pair(a, b), _pair(a, c), _pair(b, c))).alias("e")
    ).select("e.u", "e.v")
    common = tri_edges.groupBy("u", "v").agg(F.count("*").alias("n_common"))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    out = (
        edges.join(common, ["u", "v"], "left")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            "deg_u",
            "deg_v",
        )
    )
    union = F.col("deg_u") + F.col("deg_v") - 2 - F.col("n_common")
    return out.select(
        "u",
        "v",
        "n_common",
        "deg_u",
        "deg_v",
        F.when(
            union > 0, F.col("n_common").cast("double") / union.cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def _closure_triples(
    edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared degree-oriented triangle closure. Returns (edges, deg,
    tris): the persisted canonical edges, per-node degrees (node, deg),
    and one row per triangle (a, b, c) with (a, b) the oriented base
    edge and c the closing corner."""
    spark = edges.sparkSession
    # Build AND materialize the whole cache chain (edges -> degrees ->
    # oriented -> adj) under a data-proportional shuffle-partition
    # clamp.  Two reasons the clamp must wrap CONSTRUCTION, not just the
    # materializing count(): a cached plan's exchanges are compiled with
    # the conf in force when persist() registers it, and cached plans
    # are exempt from AQE partition coalescing
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # defaults to false) — so on a stock 200-partition session every
    # stage of this chain launches 200 tasks regardless of data size
    # (measured 50s at sf0.01 on a stock local[8] session; ~6s with the
    # clamp).  At cluster scale the clamp resolves to
    # defaultParallelism (all executor cores), so parallelism is never
    # reduced below the hardware; only tiny-data task-launch overhead
    # goes away.
    with static_rounds(spark, loop_partitions(spark, edges)):
        # edges feeds two plan leaves (degree agg + the re-join below);
        # persist so the upstream pair generation runs once, not twice.
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        deg = (
            edges.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        du = deg.withColumnRenamed("node", "u").withColumnRenamed(
            "deg", "deg_u"
        )
        dv = deg.withColumnRenamed("node", "v").withColumnRenamed(
            "deg", "deg_v"
        )
        with_deg = edges.join(du, "u").join(dv, "v")
        lower_first = (F.col("deg_u") < F.col("deg_v")) | (
            (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
        )
        # Oriented edge src->dst. Persisted: the subtree (pair-gen
        # self-join + distinct + degree agg) feeds the adjacency build
        # and the probe join — uncached, Catalyst recomputes it per
        # leaf. Same short-lived cache pattern as dedup.py/similarity.py;
        # O(m), tiny relative to the work it saves.
        oriented = with_deg.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias(
                "src"
            ),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias(
                "dst"
            ),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # adj probes both endpoints of every edge (two join leaves
        # below).
        adj = (
            oriented.groupBy("src")
            .agg(F.collect_list("dst").alias("nbrs"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # No eager action: the clamp's effect is the partitioning
        # compiled into the cached plans at persist() time (asserted in
        # tests/test_cache_clamp.py); the probe join materializes them.
    tris = (
        oriented.join(adj.withColumnRenamed("src", "a_key"),
                      F.col("src") == F.col("a_key"))
        .withColumnRenamed("nbrs", "nbrs_a")
        .join(
            adj.select(
                F.col("src").alias("b_key"), F.col("nbrs").alias("nbrs_b")
            ),
            F.col("dst") == F.col("b_key"),
        )
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("nbrs_a", "nbrs_b")).alias("c"),
        )
    )
    return edges, deg, tris


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over canonical (u < v)
    undirected edges: lcc = 2*n_tri / (deg*(deg-1)), the fraction of a
    node's neighbor pairs that are themselves adjacent (Watts-Strogatz).
    Returns (node, deg, n_tri, lcc) for EVERY node — zero-triangle and
    degree-1 nodes included (lcc 0.0), which is what a feature pipeline
    joins back onto the node table.

    Rides the same degree-oriented closure as triangle_counts, so the
    incremental cost over a triangle count is one left join against the
    degree table. Hash determinism: n_tri and deg*(deg-1) are exact
    BIGINTs and lcc is a SINGLE int/int double division — IEEE-correctly
    rounded, so Spark and DuckDB agree bit-for-bit (same device as
    edge_jaccard above).
    """
    _, deg, tris = _closure_triples(edges)
    n_tri = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    out = deg.join(n_tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
    )
    pairs = F.col("deg") * (F.col("deg") - F.lit(1))
    return out.select(
        "node",
        "deg",
        "n_tri",
        F.when(
            F.col("deg") >= 2,
            (F.lit(2) * F.col("n_tri")).cast("double") / pairs.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
