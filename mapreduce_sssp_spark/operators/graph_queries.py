"""queries()/oracle_sql() entries for the reference's graph surface.

Oracle notes:
* ``sssp`` runs on the FIXTURES.md B1 graph, which has cycles in its
  0-99 core. A plain recursive CTE cannot converge min-relaxation over
  cycles (UNION dedup never terminates — cycles mint fresh path sums
  forever), so the oracle is a ROUND-BOUNDED Bellman-Ford: an explicit
  level counter caps the recursion at 64 hops, which dominates every
  shortest path because all B1 weights are >= 1. All weights are
  integer-valued doubles, so path sums are exact and the hash is
  engine-stable. ``sssp`` is additionally cross-checked against
  pure-Python Dijkstra in tests/test_sssp.py, including at sf0.01.
* ``sssp_dag`` runs the same fixpoint engine on a layered DAG derived
  from lineitem (depth <= 7), where a bounded recursive CTE terminates —
  giving the iterative operator a second hash-checked oracle.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.compat import (
    format_final_line,
    format_reverse_line,
    format_state_line,
)
from ..graph.reverse import adjacency_list, reverse_graph, reverse_graph_exploded
from ..graph.fixpoint import cut, hold, keep, loop_partitions, static_rounds
from ..graph.sssp import sssp
from ..runstate import shared_state
from ..io.sources import (
    EDGES_DAG_SQL,
    EDGES_SQL,
    edges_from_lineitem,
    edges_order_chain,
    load_table,
    read_edge_list_text,
    read_tsv_edge_list,
)
from .scale_patterns import GLOBAL_ID_SHARDS as GQ_ID_SHARDS


def _min_source(edges: DataFrame, default: int = 0) -> int:
    """Deterministic seed election: min src — a bounded driver scalar
    (ONE aggregate row, never data-sized). On an EMPTY edge table the
    min is NULL; return ``default`` instead of crashing driver-side
    (int(None) was the empty-input TypeError class) — every downstream
    fixpoint already maps (empty edges, any source) to a typed empty
    result, so the default never changes a non-degenerate answer."""
    v = edges.agg(F.min("src")).collect()[0][0]
    return default if v is None else int(v)


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = edges_from_lineitem(spark, sf_dir)
    return sssp(edges, _min_source(edges))


# Converged DAG-SSSP shared by sssp_dag, compat_final_lines,
# sssp_paths_dag and betweenness_source_dag: a caller formatting final
# lines re-uses the already-computed state instead of re-running the
# whole fixpoint (which is what a production job would do — format is a
# projection over the converged state, not a second convergence).
@shared_state(owner="sssp_dag")
def _sssp_dag_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = edges_order_chain(spark, sf_dir)
    return cut(sssp(edges, _min_source(edges)))


def q_sssp_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sssp_dag_converged(spark, sf_dir)


def q_longest_path_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical path: longest-path distance from the DAG source to every
    reachable node — scheduling's bottleneck metric, and the max-plus
    dual of ``sssp_dag``. Runs through the SAME min-relaxation fixpoint
    engine on NEGATED weights (max-plus and min-plus are isomorphic
    under negation; safe on a DAG, where no positive cycle can run
    away), then negates back — one new query, zero new engine code.
    Unreachable nodes (native NULL mode) drop from the output.

    Exactness: weights are integer-valued doubles, so negation and path
    sums are exact and min/max elections agree bit-for-bit with the
    oracle's level-synchronized max-relaxation recursive CTE. The
    final un-negation uses ``0.0 - dist`` rather than unary ``-dist``:
    IEEE negation of the source node's 0.0 yields -0.0, which compares
    equal but stringifies differently from DuckDB's +0.0 and fails the
    driver's representation-sensitive hash.
    """
    edges = edges_order_chain(spark, sf_dir)
    # Bounded driver scalar, same source election as _sssp_dag_converged.
    source = _min_source(edges)
    neg = edges.withColumn("weight", -F.col("weight"))
    st = sssp(neg, source, native_nulls=True)
    return st.filter(F.col("dist").isNotNull()).select(
        "source", "node", (F.lit(0.0) - F.col("dist")).alias("dist")
    )


def q_reverse_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = reverse_graph(edges_from_lineitem(spark, sf_dir))
    return rev.select(
        "node",
        F.array_join(F.transform("neighbors", lambda x: x.cast("string")), ",").alias(
            "neighbors_csv"
        ),
        F.size("neighbors").alias("indegree"),
    )


def q_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    adj = adjacency_list(edges_from_lineitem(spark, sf_dir))
    return adj.select(
        "node",
        F.array_join(
            F.transform(
                "adj", lambda x: F.concat_ws(":", x["dst"], x["weight"].cast("string"))
            ),
            ",",
        ).alias("adj_csv"),
        F.size("adj").alias("outdegree"),
    )


def q_reverse_graph_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reverse_graph_exploded(edges_from_lineitem(spark, sf_dir))


def q_text_edges_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SingleSourceSP input contract end-to-end: write the derived
    edge list as ``edgeId src dst weight`` space-separated text
    (SingleSourceSP.java:60-66), re-read it through the engine's text
    scan (edge id discarded at the scan), return the parsed edges.
    """
    e = edges_from_lineitem(spark, sf_dir).withColumn(
        "edge_id", F.monotonically_increasing_id()
    )
    path = tempfile.mkdtemp(prefix="spark-graft-textedges-") + "/edges"
    e.select(
        F.concat_ws(
            " ", "edge_id", "src", "dst", F.col("weight").cast("string")
        ).alias("value")
    ).write.mode("overwrite").text(path)
    return read_edge_list_text(spark, path)


def q_tsv_edges_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ReverseGraph input contract end-to-end: distinct edges as
    ``src<TAB>dst`` lines plus SNAP-style comment lines that the scan
    must skip (ReverseGraph.java:110-128), re-read and parsed.
    """
    pairs = edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    lines = pairs.select(F.concat_ws("\t", "src", "dst").alias("value"))
    comments = spark.sql(
        "SELECT * FROM VALUES ('# SNAP-style header comment'),"
        " ('c non-digit lead is skipped too') AS t(value)"
    )
    path = tempfile.mkdtemp(prefix="spark-graft-tsvedges-") + "/edges"
    lines.unionByName(comments).write.mode("overwrite").text(path)
    return read_tsv_edge_list(spark, path)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (6 synchronous rounds) over the B1 lineitem graph.

    The per-round SUM of float contributions is partial-aggregation-order
    sensitive in the last ulps, so the raw doubles cannot hash-match an
    oracle. The query therefore emits ``rank_e9 = round(rank * 1e9)`` as
    BIGINT: both engines run the identical fixed-iteration recurrence
    (same damping, same dangling redistribution, no early exit), whose
    cross-engine divergence is ~1e-15 relative — nine orders of magnitude
    under the rounding quantum — making the integer output hash-stable.
    tests/test_pagerank.py additionally cross-checks the operator against
    a numpy power iteration at 1e-9 on five graph shapes.
    """
    from ..graph.pagerank import pagerank

    edges = edges_from_lineitem(spark, sf_dir)
    ranks = pagerank(edges.select("src", "dst"), iterations=6)
    return ranks.select(
        "node", F.round(F.col("rank") * 1e9, 0).cast("long").alias("rank_e9")
    )


def q_sssp_paths_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest paths WITH path reconstruction on the order-chain DAG —
    the "show me the route" extension of ``sssp_dag`` (the reference
    emits distances only; any user debugging a distance asks for the
    path next). One row per reachable node: dist, hop count, and the
    '->'-joined node sequence of the lexicographically-least shortest
    path.

    Parent derivation is POST-HOC, not in-loop: after the fixpoint
    converges, a node's parent is min(src) over edges whose relaxation
    is tight (dist(u) + w == dist(v)) — weights are integer-valued
    doubles, so path sums are exact and the float equality is reliable
    (the longest_path_dag exactness argument). min(src) makes the
    shortest-path tree deterministic when several predecessors tie.
    Keeping the loop parent-free means zero extra per-round state at
    100 TB; the tree is one extra join over the converged state.

    Reconstruction walks each node's head pointer up the parent tree —
    7 chained small left joins (the DAG's depth is <= 6 by
    construction, see edges_order_chain) over node-sized tables; no
    data-proportional work. The oracle rebuilds the identical tree and
    walks it DOWN from the source with a bounded recursive CTE.
    """
    st = _sssp_dag_converged(spark, sf_dir)
    edges = edges_order_chain(spark, sf_dir)
    ec = edges.groupBy("src", "dst").agg(F.min("weight").alias("weight"))
    reach = st.filter(F.col("dist") < 65535.0).select(
        "source", "node", "dist"
    )
    du = reach.select(
        F.col("node").alias("p_src"), F.col("dist").alias("d_src")
    )
    dv = reach.select(
        F.col("node").alias("p_dst"), F.col("dist").alias("d_dst")
    )
    # r13: the 7-round walk probes `parents` once per round; left
    # lazy, every probe re-planned the whole tight-edge derivation (and
    # reach sits on BOTH sides of the chain, the dedup-bypass pattern —
    # see q_betweenness_source_dag). One flat leaf, probed 7 times.
    with static_rounds(spark, parts=loop_partitions(spark, edges)):
        parents = cut(
            ec.join(du, ec["src"] == du["p_src"])
            .join(dv, ec["dst"] == dv["p_dst"])
            .filter(F.col("d_src") + F.col("weight") == F.col("d_dst"))
            .groupBy(F.col("p_dst").alias("child"))
            .agg(F.min("src").alias("parent"))
        )
    walk = reach.select(
        "source",
        "node",
        "dist",
        F.array(F.col("node")).alias("path"),
        F.col("node").alias("head"),
    )
    for _ in range(7):
        walk = walk.join(
            parents, walk["head"] == parents["child"], "left"
        ).select(
            "source",
            "node",
            "dist",
            F.when(
                F.col("parent").isNotNull(),
                F.concat(F.array(F.col("parent")), F.col("path")),
            )
            .otherwise(F.col("path"))
            .alias("path"),
            F.coalesce("parent", F.col("head")).alias("head"),
        )
    out = walk.select(
        "source",
        "node",
        "dist",
        (F.size("path") - 1).alias("hops"),
        F.array_join(
            F.transform("path", lambda x: x.cast("string")), "->"
        ).alias("path"),
    )
    # Materialize the 7-join reconstruction chain under the clamp: on a
    # stock 200-partition session the caller's action would run every
    # tiny join as a 200-task stage (the betweenness lesson).
    out = keep(out)
    out.count()
    return out


def q_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the supplier-part incidence onto
    suppliers: a weighted supplier-supplier edge for every pair sharing
    at least 2 parts, with the shared count and neighborhood Jaccard —
    the item-item collaborative-filtering construction (and the
    companion to edge_jaccard, which scores EXISTING edges; this one
    CREATES the projected graph).

    ORACLE-HONESTY TWIN — DO NOT RUN UNCAPPED AT CORPUS SCALE. Exact,
    uncapped semantics kept so the DuckDB oracle can check the full
    answer; hub-part-quadratic by construction. The production entry
    point is ``bipartite_projection_capped`` (permille pivot-degree cap
    as a semi-join BEFORE the pair join, plan-pinned in
    tests/test_degree_cap.py); see SCALE.md "degree caps". Excluded
    from the bench HEADLINE set since r10 for the same reason.

    Exact: shared counts and degrees are int64; Jaccard is one int/int
    double division. Support >= 2 prunes the long tail before the
    degree joins.

    At 100 TB: the self-join is keyed on the shared PART (the only
    key that assembles pairs), so a hub part of degree d contributes
    d^2 pairs — the documented quadratic driver; production caps the
    pivot degree first (drop parts above the 99.9th-percentile degree,
    exactly the two_hop_paths truncation note) and AQE skew-split
    handles residual heat. Degrees broadcast back onto the pair
    aggregate, corpus-sized data shuffles once.
    """
    # Required-column contract (r12): exactly the columns this query
    # READS — the two incidence endpoints, which must be non-null
    # (NULL-node-id sweep; the r11 l_quantity rail was dropped because
    # the weight is never read). Twin mirrors the WHERE.
    inc = keep(
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_suppkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    deg = inc.groupBy("s").agg(F.count("*").alias("deg"))
    a, b = inc.alias("a"), inc.alias("b")
    pairs = (
        a.join(b, "p")
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(
            F.col("a.s").alias("s1"), F.col("b.s").alias("s2")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            "deg1",
            "deg2",
            (
                F.col("n_shared").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


BETWEENNESS_ROUNDS = 7  # DAG depth <= 6 (edges_order_chain) + slack


def q_betweenness_source_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes single-source dependency accumulation on the order-chain
    DAG: for every reachable node, the shortest-path COUNT sigma from
    the source and the dependency delta = sum over shortest paths
    through it — the per-source building block of betweenness
    centrality (Brandes 2001), computed over the TIGHT edge set
    (dist(u)+w == dist(v), the sssp_paths_dag device).

    Both sweeps are fixed-round synchronous recomputes over the
    converged distances — sigma forward (sigma(v) = sum of
    predecessors' sigma; exact int64), delta backward (delta(v) =
    sum_w sigma(v)/sigma(w) * (1 + delta(w))). Rationals enter at
    delta, so each edge's contribution quantizes to e6 BEFORE the
    per-node sum — round(sigma_v * (1e6 + delta_e6(w)) / sigma_w) —
    making every accumulation an exact integer sum; both engines round
    identically per edge, and 7 full recomputes reach the fixpoint
    because the DAG is depth <= 6 (level-k values are final after k
    rounds).

    At 100 TB: the tight graph derives from the converged state with
    one join; each sweep round is one small join + partial-aggregated
    groupBy over node-sized tables, the same physics as every fixpoint
    here; 14 bounded rounds total.

    r13 restructure (guide §2.4/§3.1, VERDICT r12 item 2): the r12
    shape paid 14 eager per-round lineage cuts plus, per delta round,
    3 joins re-attaching the STATIC sigma tables. Now (a) the sweep
    inputs are laid out once — ``tight`` hash-partitioned+sorted on u
    (the sigma probe key), the sigma-annotated ``tsig`` on v (the
    delta probe key), ``reach`` on node — so every per-round join is a
    co-partitioned, co-sorted SMJ with ZERO exchange and the only
    per-round exchange is the message groupBy (the BSP floor, same as
    sssp); (b) the loops run under ``no_broadcast`` like every other
    fixpoint here, so Catalyst's size estimates cannot replace those
    in-job SMJs with per-round driver-blocking broadcast builds;
    (c) with the statics pre-joined the per-round lineage is LINEAR
    (each round references the previous state once), so each sweep
    chains lazily and materializes as ONE job — two lineage cuts
    total (sigma, out) instead of 14. The shared inputs are flat
    LogicalRDD leaves (fixpoint.cut: eager localCheckpoint locally,
    reliable checkpoint on a cluster), NOT persist()ed views: the
    round's rebuild join has ``reach``-derived plans on BOTH sides, so
    DeduplicateRelations re-ids one side and the re-id'd subtree no
    longer hits the cache — measured as the whole tight build
    re-planning inline every round (8 Exchanges/round); as leaves
    there is nothing to substitute and the chain plans at exactly one
    Exchange per round (its row in tests/plan_census.py: 22 Exchange
    in all, 7 in each sweep).
    Measured (bench methodology, sf0.1, marginal on the warm sssp_dag
    memo): 14.4 s (r12 driver) -> 4.6 s min-of-3 (phase split: tight
    1.6, sigma sweep 1.5, tsig 0.2, delta+out 2.0).
    """
    st = _sssp_dag_converged(spark, sf_dir)
    edges = edges_order_chain(spark, sf_dir)
    source = _min_source(edges)
    # The sweep state is node-table-sized — clamp the rounds to the
    # data-proportional partition count like every other fixpoint here.
    n_part = loop_partitions(spark, edges)
    with static_rounds(spark, parts=n_part, no_broadcast=True):
        ec = edges.groupBy("src", "dst").agg(F.min("weight").alias("weight"))
        # reach feeds every round's left-outer rebuild plus the tight
        # build and the final join: fix its layout once (node-keyed,
        # sorted) and cut it to a flat leaf (see docstring on why a
        # persist() would be silently bypassed here).
        reach = cut(
            st.filter(F.col("dist") < 65535.0)
            .select("node", "dist")
            .repartition(n_part, "node")
            .sortWithinPartitions("node")
        )
        du = reach.select(F.col("node").alias("u"), F.col("dist").alias("d_u"))
        dv = reach.select(F.col("node").alias("v"), F.col("dist").alias("d_v"))
        tight = cut(
            ec.join(du, ec["src"] == du["u"])
            .join(dv, ec["dst"] == dv["v"])
            .filter(F.col("d_u") + F.col("weight") == F.col("d_v"))
            .select("u", "v")
            .repartition(n_part, "u")
            .sortWithinPartitions("u")
        )

        sigma = reach.select(
            "node",
            F.when(F.col("node") == source, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("sigma"),
        )
        for _ in range(BETWEENNESS_ROUNDS):
            # tight(u-partitioned) ⋈ sigma(node-partitioned): no
            # exchange; the groupBy(v) is the round's one shuffle.
            inflow = (
                tight.join(sigma, tight["u"] == sigma["node"])
                .groupBy("v")
                .agg(F.sum("sigma").alias("s_in"))
            )
            sigma = reach.join(
                inflow, reach["node"] == inflow["v"], "left"
            ).select(
                "node",
                F.when(F.col("node") == source, F.lit(1).cast("long"))
                .otherwise(F.coalesce("s_in", F.lit(0)).cast("long"))
                .alias("sigma"),
            )
        # One cut for the whole sigma sweep: materializes the 7-round
        # chain as a single job and gives the delta sweep (which reads
        # sigma twice) a flat, layout-preserving input.
        sigma = cut(sigma)

        # Delta's per-round recurrence only varies in d_w; the two
        # sigma attachments are static across rounds, so join them ONCE
        # and lay the result out on v — the per-round probe key.
        tsig = cut(
            tight.join(
                sigma.select(
                    F.col("node").alias("u"), F.col("sigma").alias("sig_u")
                ),
                "u",
            )
            .join(
                sigma.select(
                    F.col("node").alias("v"), F.col("sigma").alias("sig_v")
                ),
                "v",
            )
            .select("u", "v", "sig_u", "sig_v")
            .repartition(n_part, "v")
            .sortWithinPartitions("v")
        )

        delta = reach.select("node", F.lit(0).cast("long").alias("delta_e6"))
        for _ in range(BETWEENNESS_ROUNDS):
            d_w = delta.select(
                F.col("node").alias("v"), F.col("delta_e6").alias("d_v")
            )
            contribs = (
                tsig.join(d_w, "v")
                .select(
                    "u",
                    F.round(
                        F.col("sig_u").cast("double")
                        * (F.lit(1000000) + F.col("d_v")).cast("double")
                        / F.col("sig_v").cast("double")
                    )
                    .cast("long")
                    .alias("c"),
                )
                .groupBy("u")
                .agg(F.sum("c").alias("d_new"))
            )
            delta = reach.join(
                contribs, reach["node"] == contribs["u"], "left"
            ).select(
                "node",
                F.coalesce("d_new", F.lit(0)).cast("long").alias("delta_e6"),
            )

        out = (
            reach.join(sigma, "node")
            .join(delta, "node")
            .select(
                F.lit(source).cast("long").alias("source"),
                "node",
                "dist",
                "sigma",
                "delta_e6",
            )
        )
        # Materialize under the clamp: the lazy delta chain otherwise
        # executes at the CALLER's action with the session's stock 200
        # shuffle partitions (200-task stages per tiny round on a
        # vanilla driver session).
        out = hold(out)
        out.count()
    # reach/tight/tsig are leaves — their blocks are dropped by the
    # ContextCleaner when the frames go out of scope, so there is
    # nothing to unpersist.
    return out


def _betweenness_sql(rounds: int = BETWEENNESS_ROUNDS) -> str:
    """Unrolled DuckDB twin of q_betweenness_source_dag (MATERIALIZED
    per stage — the _hits_sql inlining lesson)."""
    parts = [
        f"WITH RECURSIVE edges AS MATERIALIZED ({EDGES_DAG_SQL}),",
        "ec AS MATERIALIZED (SELECT src, dst, min(weight) AS weight"
        " FROM edges GROUP BY 1, 2),",
        "srcq AS MATERIALIZED (SELECT min(src) AS s FROM edges),",
        """walk(node, dist) AS (
    SELECT s, CAST(0.0 AS DOUBLE) FROM srcq
    UNION
    SELECT e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    GROUP BY e.dst
),""",
        "best AS MATERIALIZED (SELECT node, min(dist) AS dist"
        " FROM walk GROUP BY node),",
        "tight AS MATERIALIZED (SELECT ec.src AS u, ec.dst AS v"
        " FROM ec JOIN best bu ON bu.node = ec.src"
        " JOIN best bv ON bv.node = ec.dst"
        " WHERE bu.dist + ec.weight = bv.dist),",
        "s0 AS MATERIALIZED (SELECT node,"
        " CASE WHEN node = (SELECT s FROM srcq) THEN CAST(1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS sigma FROM best),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT b.node,"
            f" CASE WHEN b.node = (SELECT s FROM srcq) THEN CAST(1 AS BIGINT)"
            f" ELSE CAST(coalesce(t.s_in, 0) AS BIGINT) END AS sigma"
            f" FROM best b LEFT JOIN"
            f" (SELECT v, SUM(sigma) AS s_in FROM tight"
            f"  JOIN s{k - 1} ON s{k - 1}.node = tight.u GROUP BY v) t"
            f" ON t.v = b.node),"
        )
    parts.append(
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS delta_e6"
        " FROM best),"
    )
    sig = f"s{rounds}"
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT b.node,"
            f" CAST(coalesce(t.d_new, 0) AS BIGINT) AS delta_e6"
            f" FROM best b LEFT JOIN"
            f" (SELECT tight.u, SUM(CAST(round(CAST(su.sigma AS DOUBLE)"
            f"   * CAST(1000000 + dw.delta_e6 AS DOUBLE)"
            f"   / CAST(sv.sigma AS DOUBLE)) AS BIGINT)) AS d_new"
            f"  FROM tight JOIN {sig} su ON su.node = tight.u"
            f"  JOIN {sig} sv ON sv.node = tight.v"
            f"  JOIN d{k - 1} dw ON dw.node = tight.v"
            f"  GROUP BY tight.u) t ON t.u = b.node)"
        )
        parts[-1] += ","
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f" SELECT (SELECT s FROM srcq) AS source, best.node, best.dist,"
        f" {sig}.sigma, d{rounds}.delta_e6"
        f" FROM best JOIN {sig} ON {sig}.node = best.node"
        f" JOIN d{rounds} ON d{rounds}.node = best.node"
    )
    return "\n".join(parts)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (6 synchronous rounds, one L1
    normalization at the end — scaling commutes through the linear
    updates, see graph/hits.py) over the B1 lineitem graph — the
    mutual-recursion companion to ``pagerank``, and the engine's 15th
    fixpoint family.

    Same hash device as pagerank: both engines run the identical
    fixed-iteration recurrence (same init, same L1 normalization, no
    early exit) whose cross-engine divergence is ~1e-15 relative, and
    the query emits ``hub_e9``/``auth_e9 = round(score * 1e9)`` BIGINTs
    — nine orders of magnitude of slack under the rounding quantum.
    tests/test_hits.py cross-checks the operator against a numpy power
    iteration and pins the invariants (distributions sum to 1; sinks
    have hub 0; sources have auth 0).
    """
    from ..graph.hits import hits

    edges = edges_from_lineitem(spark, sf_dir)
    scores = hits(edges.select("src", "dst"), iterations=6)
    return scores.select(
        "node",
        F.round(F.col("hub") * 1e9, 0).cast("long").alias("hub_e9"),
        F.round(F.col("auth") * 1e9, 0).cast("long").alias("auth_e9"),
    )


def _hits_sql(iterations: int = 6) -> str:
    """Unrolled DuckDB twin of graph/hits.py — one (auth, hub) CTE pair
    per round (the community_modularity unroll device; WITH RECURSIVE
    cannot carry two mutually-recursive vectors). LEFT JOINs keep
    in-link-free / out-link-free nodes at exact 0.0, mirroring the
    Spark side's coalesce."""
    parts = [
        # MATERIALIZED: DuckDB otherwise inlines `e` into each of the
        # 12 unrolled stages — 12 parquet rescans and an fd blow-up.
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)"
        " AS hub FROM nodes),",
    ]
    # Every stage MATERIALIZED: each stage is read by the next one AND
    # the final normalization — inlined, the re-evaluation tree is
    # 2^rounds over the base scan (measured: the inlined form never
    # finished at sf0.001 where the materialized one takes 0.1s).
    for k in range(1, iterations + 1):
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(sum(h.hub), 0.0) AS auth"
            f" FROM nodes n LEFT JOIN e ON e.dst = n.node"
            f" LEFT JOIN h{k - 1} h ON h.node = e.src GROUP BY n.node),"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(sum(a.auth), 0.0) AS hub"
            f" FROM nodes n LEFT JOIN e ON e.src = n.node"
            f" LEFT JOIN a{k} a ON a.node = e.dst GROUP BY n.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f" SELECT h{iterations}.node,"
        f" CAST(round(h{iterations}.hub"
        f" / (SELECT sum(hub) FROM h{iterations}) * 1e9) AS BIGINT)"
        f" AS hub_e9,"
        f" CAST(round(a{iterations}.auth"
        f" / (SELECT sum(auth) FROM a{iterations}) * 1e9) AS BIGINT)"
        f" AS auth_e9"
        f" FROM h{iterations} JOIN a{iterations} USING (node)"
    )
    return "\n".join(parts)


def q_two_hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node 2-hop reach: number of length-2 directed paths and the
    distinct friend-of-friend set size (2-hop endpoints that are neither
    the node itself nor a direct neighbor) — the candidate-generation
    stage of link prediction / recommendation.

    ORACLE-HONESTY TWIN — DO NOT RUN UNCAPPED AT CORPUS SCALE. This is
    the exact, uncapped semantics kept so the DuckDB oracle can check
    the full answer; it is hub-quadratic by construction. The
    production entry point is ``two_hop_paths_capped`` (permille relay-
    degree cap as a semi-join BEFORE the pair join, plan-pinned in
    tests/test_degree_cap.py); see SCALE.md "degree caps". Excluded
    from the bench HEADLINE set since r10 for the same reason.

    Plan: one self-join keyed on the RELAY node (the only join key that
    exists for path assembly — both hops shuffle once on mid), then a
    left anti lookup of (src, endpoint) against the direct edge set,
    then one aggregate. All counts exact int64. Scale caveat, stated
    because it is THE cost driver: a relay of degree d contributes d_in
    x d_out pairs, so hub relays go quadratic — production caps relay
    degree first (drop relays above the 99.9th-percentile degree, the
    standard FoF truncation) and AQE skew-split handles the rest; the
    uncapped version here is the exact semantics the oracle can check.
    """
    e = keep(
        edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    paths = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("src"),
        F.col("b.dst").alias("end"),
    )
    direct = e.select("src", F.col("dst").alias("end"), F.lit(1).alias("is_direct"))
    # r13 (guide §2.3 "aggregate before you shuffle"): collapse the
    # path multiset to (src, end, n2) BEFORE the direct-edge join — the
    # (src, end) exchange was already in the plan (the left join's
    # key), but now the partial aggregation combines map-side so the
    # shuffle carries one row per distinct pair instead of one per
    # path, and the final per-src aggregate needs a plain count where
    # the row-level form needed an expensive count_distinct. Exact
    # same counts: n_paths2 = sum of per-pair multiplicities, n_fof =
    # count over now-unique (src, end) rows.
    agg_pairs = paths.groupBy("src", "end").agg(F.count("*").alias("n2"))
    return (
        agg_pairs.join(direct, ["src", "end"], "left")
        .groupBy("src")
        .agg(
            F.sum("n2").alias("n_paths2"),
            F.count(
                F.when(
                    (F.col("end") != F.col("src"))
                    & F.col("is_direct").isNull(),
                    F.col("end"),
                )
            ).alias("n_fof"),
        )
    )


CAP_PERMILLE = 999  # keep pivots at or below the 99.9th-percentile load


def _permille_cap(loads: DataFrame, col: str) -> DataFrame:
    """1-row frame holding the exact CAP_PERMILLE-th permille order
    statistic of integer column `col` — the in-plan degree-cap
    threshold for the hub-quadratic joins.

    Computed as a HISTOGRAM order statistic, not a global sort: the
    distinct-value histogram of a degree-like column is tiny (bounded
    by the number of distinct degrees, thousands at any corpus size),
    so the single-partition cumulative window runs over kilobytes
    even when `loads` has billions of rows. The threshold test is
    exact integer arithmetic (cum * 1000 >= n * permille, no float
    percentile interpolation), so Spark and any SQL twin agree
    bit-for-bit — the property that lets a capped query keep a
    hash-checkable oracle.
    """
    from pyspark.sql import Window

    hist = loads.groupBy(col).agg(F.count("*").alias("c"))
    w_cum = Window.orderBy(col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        F.col(col),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    return (
        cum.filter(F.col("cum") * 1000 >= F.col("n") * CAP_PERMILLE)
        .agg(F.min(col).alias("cap"))
    )


def q_two_hop_paths_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_two_hop_paths with the production relay-degree cap applied
    IN-PLAN: relays whose pair contribution indeg x outdeg exceeds the
    exact 99.9th-permille load are dropped BEFORE the self-join — the
    FoF truncation every production candidate generator runs, and this
    engine's analogue of the reference's frontier gating
    (SingleSourceSP.java:179): prune before the expensive shuffle, not
    after.

    Why this is the 100 TB shape while q_two_hop_paths is the
    oracle-exact twin: a power-law hub relay of degree d contributes
    d^2 pairs, so the top 0.1% of relays dominate the join output; the
    cap bounds the per-relay fan-out at the percentile load while
    keeping >= 99.9% of relays exact. The threshold itself is an exact
    integer order statistic over the tiny degree histogram
    (_permille_cap), so the capped semantics stay deterministic and
    hash-checkable against the same-threshold SQL twin. The relay
    filter is a semi-join on the kept-relay set (node-sized, NOT
    assumed broadcastable) keyed on the same column as the path
    self-join, so it rides the identical shuffle partitioning.
    """
    e = keep(
        edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    )
    outd = e.groupBy(F.col("src").alias("mid")).agg(
        F.count("*").alias("outdeg")
    )
    ind = e.groupBy(F.col("dst").alias("mid")).agg(
        F.count("*").alias("indeg")
    )
    loads = ind.join(outd, "mid").select(
        "mid", (F.col("indeg") * F.col("outdeg")).alias("load")
    )
    cap = _permille_cap(loads, "load")
    relays = (
        loads.join(F.broadcast(cap), F.col("load") <= F.col("cap"))
        .select("mid")
    )
    a, b = e.alias("a"), e.alias("b")
    # Cap BEFORE the self-join: the semi-join shrinks the left leg so
    # hub relays never reach the pair-exploding join (pinned in
    # tests/test_plans.py).
    a_kept = a.join(
        relays.select(F.col("mid").alias("dst")), "dst", "left_semi"
    )
    paths = a_kept.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("src"),
        F.col("b.dst").alias("end"),
    )
    direct = e.select(
        "src", F.col("dst").alias("end"), F.lit(1).alias("is_direct")
    )
    # r13: same pre-aggregation as q_two_hop_paths — collapse to
    # (src, end, n2) before the direct-edge join (guide §2.3); counts
    # identical by construction.
    agg_pairs = paths.groupBy("src", "end").agg(F.count("*").alias("n2"))
    return (
        agg_pairs.join(direct, ["src", "end"], "left")
        .groupBy("src")
        .agg(
            F.sum("n2").alias("n_paths2"),
            F.count(
                F.when(
                    (F.col("end") != F.col("src"))
                    & F.col("is_direct").isNull(),
                    F.col("end"),
                )
            ).alias("n_fof"),
        )
    )


def q_bipartite_projection_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bipartite_projection with the production pivot-degree cap
    applied IN-PLAN: parts shared by more suppliers than the exact
    99.9th-permille part degree are dropped BEFORE the pair-generating
    self-join — a part of degree d emits C(d,2) supplier pairs, so the
    heaviest 0.1% of parts are the quadratic driver (the stopword
    problem in item-item collaborative filtering; production systems
    cap or downsample exactly these pivots).

    Semantics of the capped variant: n_shared counts co-occurrences
    through KEPT parts only (the cap gates candidate generation),
    while deg1/deg2 remain the TRUE supplier degrees over the full
    incidence — scoring denominators are never truncated, so jaccard
    is a deterministic underestimate on hub-mediated pairs and exact
    on the >= 99.9% of parts below the cap. Threshold via
    _permille_cap: exact integer order statistic, hash-checkable
    against the same-threshold SQL twin.
    """
    # NOT cached (unlike the uncapped twin): here the pair self-join runs
    # over the semi-joined `kept`, not `inc` itself — inc's branches are
    # aggregates, which AQE exchange reuse already shares (persist
    # measured 2.2x slower, min-of-3 at sf0.1).
    # Endpoint contract (r12, mirrors the uncapped twin): s and p
    # non-null, no weight rail — see q_bipartite_projection.
    inc = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_suppkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    deg = inc.groupBy("s").agg(F.count("*").alias("deg"))
    pdeg = inc.groupBy("p").agg(F.count("*").alias("d"))
    cap = _permille_cap(pdeg, "d")
    kept_parts = (
        pdeg.join(F.broadcast(cap), F.col("d") <= F.col("cap"))
        .select("p")
    )
    kept = inc.join(kept_parts, "p", "left_semi")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, "p")
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            "deg1",
            "deg2",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("deg1") + F.col("deg2") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


LINKPRED_TOPK = 200
# Absolute relay-degree cap, ANDed with the permille cap: LP relays
# above this carry ~no signal (each contributes 1/ln(d) -> ~0.2 while
# costing d^2 pair rows), and on THIS graph the d>=550 supplier hubs
# are 0.5% of nodes — above the 99.9th permille's reach. Measured at
# sf0.1: sum(d^2) 401M -> 17M pair rows with the cap at 64.
LINKPRED_MAX_RELAY_DEG = 64
# Query-batch restriction (the similarity_topk QUERY_MOD device):
# production LP scores candidates for a BATCH of query nodes, not
# all-pairs; one leg of the relay join filters to the seed set first,
# so pair volume is sum(d^2)/|mod| instead of sum(d^2).
LINKPRED_SEED_MOD = 100


def q_link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction candidate scoring on the undirected B1 graph:
    for each QUERY node (the deterministic node % 100 == 0 seed batch
    — the similarity_topk device) and each non-adjacent candidate
    sharing >= 1 common neighbor, the common-neighbor count,
    neighborhood Jaccard, and Adamic-Adar score (sum over common
    neighbors of 1/ln(deg)) — the classic similarity-based LP triple
    (Liben-Nowell & Kleinberg), emitted as the batch-wide top-200 by
    Adamic-Adar. Batch restriction is the scale contract: one leg of
    the relay join filters to seeds BEFORE the join, so pair volume is
    sum(d^2)/|mod|, and a full sweep is just more batches.

    Scale design is the capped-join story end-to-end: candidate pairs
    assemble through the RELAY (the common neighbor), so a hub relay
    contributes deg^2 pairs — the same quadratic driver as
    two_hop_paths; relays above the exact 99.9th-permille degree OR
    the absolute LINKPRED_MAX_RELAY_DEG are cut BEFORE the pair
    self-join (production LP drops hub relays anyway: a node adjacent
    to everything carries no link signal, the stopword problem again —
    and on this graph the supplier hubs are 0.5% of nodes, below the
    permille cap's reach, hence the absolute rail). Every relay has deg >= 2
    (it neighbors both endpoints), so ln(deg) > 0. Per-relay 1/ln(deg)
    quantizes to an e9 integer (one division + ln + round on identical
    doubles, the psi ln-contract) and per-pair sums are exact integer
    adds. Cap semantics follow bipartite_projection_capped: counts and
    AA accumulate through KEPT relays only, while deg_u/deg_v stay the
    TRUE degrees (scoring denominators are never truncated). Final
    top-k is TakeOrdered on (aa_e9 DESC, u, v) — total order, no
    global sort.
    """
    e = (
        edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    )
    # und feeds FOUR plan branches (adj twice via the union, the degree
    # chain, and the direct-edge anti join) — kept, or the scan+distinct
    # chain runs once per branch.
    und = keep(
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("x"),
            F.greatest("src", "dst").alias("y"),
        )
        .distinct()
    )
    adj = und.select(F.col("x").alias("r"), F.col("y").alias("n")).union(
        und.select(F.col("y").alias("r"), F.col("x").alias("n"))
    )
    deg = adj.groupBy("r").agg(F.count("*").alias("d"))
    cap = _permille_cap(deg, "d")
    # d >= 2: a degree-1 relay can never be a COMMON neighbor (and its
    # ln(1) = 0 would blow up the AA reciprocal).
    kept_relays = (
        deg.join(
            F.broadcast(cap),
            (F.col("d") <= F.col("cap"))
            & (F.col("d") <= LINKPRED_MAX_RELAY_DEG)
            & (F.col("d") >= 2),
        )
        .select("r", "d")
    )
    # relay-keyed neighbor lists restricted to kept relays, with the
    # relay's degree riding along for the AA contribution. Kept: the
    # seed/candidate legs reference this subtree twice and
    # exchange-reuse is unreliable for self-join shapes under AQE.
    rel = keep(
        adj.join(kept_relays, "r")
        .select(
            "r",
            "n",
            F.round(F.lit(1e9) / F.log(F.col("d").cast("double")))
            .cast("long")
            .alias("aa_contrib_e9"),
        )
        .repartition("r")
    )
    seeds = rel.filter(F.col("n") % LINKPRED_SEED_MOD == 0).select(
        "r", F.col("n").alias("u")
    )
    pairs = (
        seeds.join(rel.select("r", F.col("n").alias("v"), "aa_contrib_e9"), "r")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("aa_contrib_e9").alias("aa_e9"),
        )
    )
    non_edges = pairs.join(
        und.select(
            F.col("x").alias("cx"), F.col("y").alias("cy")
        ),
        (F.least("u", "v") == F.col("cx"))
        & (F.greatest("u", "v") == F.col("cy")),
        "left_anti",
    )
    du = deg.select(F.col("r").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("r").alias("v"), F.col("d").alias("deg_v"))
    scored = (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            "deg_u",
            "deg_v",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_u") + F.col("deg_v")
                    - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
            "aa_e9",
        )
    )
    return scored.orderBy(
        F.col("aa_e9").desc(), "u", "v"
    ).limit(LINKPRED_TOPK)


def q_graph_sample_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style k-hop neighbor sampling — the minibatch
    subgraph extraction every distributed GNN trainer runs: from a
    deterministic ~1/16 seed set, keep at most K=3 out-edges per node
    (ranked by the portable md5 of the edge — the engine's standard
    reproducible-sampling device), then repeat from the sampled
    frontier for hop 2. Output is the tagged sampled edge list.

    The per-node top-K is a row_number window over (node, md5) — NOT a
    collect_list truncation, because a hub's edge list must never
    materialize in one task's memory; the window sorts within the
    node's partition slice and keeps K. Fan-out is bounded by K per
    hop, so the sampled subgraph is O(|seeds| * K^2) regardless of
    graph skew — which is the entire point of sampled neighborhoods at
    100 TB. Determinism: seeds and ranks both derive from md5 hex
    (identical strings in both engines), ties impossible on the
    distinct edge set.
    """
    from pyspark.sql import Window

    K = 3
    e = (
        edges_from_lineitem(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .withColumn(
            "rk", F.md5(F.concat_ws("|", F.col("src"), F.col("dst")))
        )
    )
    w = Window.partitionBy("src").orderBy("rk")
    ranked = e.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= K
    )
    seeds = (
        e.select("src")
        .union(e.select(F.col("dst").alias("src")))
        .distinct()
        .filter(F.md5(F.col("src").cast("string")) < "4")
    )
    hop1 = ranked.join(seeds, "src").select("src", "dst")
    frontier = hop1.select(F.col("dst").alias("src")).distinct()
    hop2 = ranked.join(frontier, "src").select("src", "dst")
    return hop1.select(F.lit(1).alias("hop"), "src", "dst").unionByName(
        hop2.select(F.lit(2).alias("hop"), "src", "dst")
    )


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction negative sampling — the other half of every edge
    classifier / GNN / word2vec-style training set: for each positive
    edge (u, v), a deterministic corrupted partner (u, v') with v'
    pseudo-uniform over the node set and (u, v') NOT a real edge.

    Device chain, all exact and portable: nodes get dense ranks via the
    two-pass shard-rank device (q_global_row_ids): shard by node % S,
    row_number WITHIN each shard (parallel, never a single-partition
    global sort), cumulative per-shard offsets (a window over S
    driver-scale rows), idx = offset + in-shard rank. The resulting
    index is dense over [0, |V|) in (shard, node) order — a total order
    DuckDB reproduces with ONE row_number() OVER (ORDER BY node % S,
    node), so the map is exact cross-engine. Each edge derives
    idx = md5(u|v) mod |V| (the engine's md5-bucket sampling device,
    here as an index map), idx joins back to the rank table for the
    candidate v', and an anti join against the real edge set discards
    accidental positives (the standard rejection step — a second hash
    round would re-admit them probabilistically; one rejection round
    keeps the oracle exact).

    Scale: the rank table is built with NO global sort and NO forced
    |V| broadcast (the idx join is a plain shuffle join; AQE broadcasts
    it when it actually fits) — both replaced r8's unpartitioned
    Window.orderBy + F.broadcast(ranked), which serialized and shipped
    the whole node table. Remaining: one S-row broadcast (offsets), one
    edge-keyed anti join; nothing quadratic, nothing random at run time.
    """
    from pyspark.sql import Window

    # r12 (guide §1.2): e feeds four references (both node branches,
    # the md5 candidate derivation, the rejection anti-join) — cache the
    # distinct edge set once instead of replaying scan+distinct per use.
    e = keep(edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct())
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sharded = nodes.select((F.col("node") % GQ_ID_SHARDS).alias("shard"), "node")
    w_in = Window.partitionBy("shard").orderBy("node")
    in_ranked = sharded.withColumn("in_rank", F.row_number().over(w_in))
    counts = sharded.groupBy("shard").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "shard", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
    )
    ranked = in_ranked.join(F.broadcast(offsets), "shard").select(
        "node", (F.col("offset") + F.col("in_rank") - 1).alias("idx")
    )
    n_nodes = nodes.count()  # bounded driver scalar (|V|)
    cand = e.select(
        "src",
        "dst",
        F.expr(
            f"CAST(conv(substring(md5(concat_ws('|', src, dst)), 1, 15),"
            f" 16, 10) AS BIGINT) % {n_nodes}"
        ).alias("idx"),
    )
    neg = (
        cand.join(ranked, "idx")
        .select("src", "dst", F.col("node").alias("neg_dst"))
        .join(
            e.select(
                F.col("src").alias("src"), F.col("dst").alias("neg_dst")
            ),
            ["src", "neg_dst"],
            "left_anti",
        )
        .filter(F.col("neg_dst") != F.col("src"))
    )
    return neg.select("src", "dst", "neg_dst")


# Converged SCC labels shared between q_scc and q_condensation_dag —
# the condensation is a projection over the SAME converged labels, so it
# must not re-run the nested fixpoint.
@shared_state(owner="scc")
def _scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.scc import scc

    edges = edges_from_lineitem(spark, sf_dir)
    return cut(scc(edges.select("src", "dst")))


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the B1 digraph — the 10th
    fixpoint pattern and the first NESTED one (trim peel + min-coloring
    + color-constrained backward reach per outer round; see
    graph/scc.py). On B1 the cyclic 0-99 supplier/part core collapses
    to one SCC and every pure-part node is a singleton — the structure
    the trim phase resolves for free, which is exactly the published
    algorithms' claim about real graphs.

    The oracle is a genuinely independent FORMULATION, not a replay:
    mutual reachability via one recursive closure, scc = min over
    {v : u <-> v}. Exact integer labels, so the hash is trivial."""
    return _scc_labels(spark, sf_dir)


def q_condensation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCC condensation — collapse every strongly connected
    component to one super-node and keep the distinct between-component
    edges with multiplicities: the cycle-free summary graph scheduling
    and reachability analyses actually run on (it is a DAG by
    construction). Two label joins onto the edge list + one aggregate
    over the SHARED converged scc labels (runstate.shared_state —
    the condensation is the read path of the SCC index, not a second
    run of the nested fixpoint); the edge table shuffles once per
    endpoint join.
    """
    edges = edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    labels = _scc_labels(spark, sf_dir)
    return (
        edges.join(
            labels.select(
                F.col("node").alias("src"), F.col("scc").alias("scc_src")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col("node").alias("dst"), F.col("scc").alias("scc_dst")
            ),
            "dst",
        )
        .filter(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count("*").alias("n_edges"))
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the B1 graph: the Pearson correlation of
    (out-degree of src, in-degree of dst) over directed edges — THE
    one-number summary of hub wiring (negative = hubs feed leaves,
    the skew-planning signal for join salting and frontier batching).

    Same exact-sufficient-statistics device as ``corr_measures``:
    degrees are int64 counts, the five power sums accumulate exactly
    (deg <= ~1e3 here; at web scale the sums move to DECIMAL(38,0)
    with the same plan), and the closed-form correlation is one float
    chain of exactly-rounded ops evaluated on identical operands in
    both engines. Two degree aggregates + two joins back onto the edge
    list — each join keyed on an endpoint, so the edge table shuffles
    twice and nothing else moves.
    """
    e = edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    outd = e.groupBy("src").agg(F.count("*").alias("x"))
    ind = e.groupBy("dst").agg(F.count("*").alias("y"))
    pairs = e.join(outd, "src").join(ind, "dst")
    stats = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    corr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return stats.select(
        F.col("n").alias("n_edges"), F.expr(corr).alias("assortativity")
    )


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the min-src seed node — the
    random-walk-with-restart relevance score behind related-item
    recommendation and graph-based retrieval, and the 9th run of the
    fixpoint engine: the SAME power-iteration loop as ``pagerank`` with
    the teleport vector switched from uniform to the source indicator
    (restart mass and dangling mass both land on the seed).

    Hash-exactness: identical fixed-iteration recurrence both engines
    (the pagerank device — ~1e-15 cross-engine divergence vs the 1e-9
    rounding quantum of rank_e9); the indicator arithmetic multiplies
    by exact 0.0/1.0, so personalization adds no new float surface.
    """
    from ..graph.pagerank import pagerank

    edges = edges_from_lineitem(spark, sf_dir)
    source = _min_source(edges)
    ranks = pagerank(edges.select("src", "dst"), iterations=6, source=source)
    return ranks.select(
        "node", F.round(F.col("rank") * 1e9, 0).cast("long").alias("rank_e9")
    )


def q_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components over per-order lineitem chains.

    Nodes are (orderkey, linenumber) encoded ``l_orderkey * 8 +
    l_linenumber`` (unique per order, so components correspond to
    multi-line orders — sizes bounded by 7, which keeps the DuckDB
    recursive-CTE oracle linear). The engine runs the same min-label
    fixpoint it would on any graph.
    """
    from ..graph.wcc import wcc

    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # Chain contract (r12): orderkey/linenumber non-null — a NULL
    # linenumber is also a NULLS FIRST/LAST window-ordering trap
    # (Spark vs DuckDB lead() would chain different rows). Twin mirrors.
    step = li.filter(
        F.col("l_orderkey").isNotNull() & F.col("l_linenumber").isNotNull()
    ).select("l_orderkey", "l_linenumber").distinct()
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    chain = step.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("node"),
    ).withColumn("next_node", F.lead("node").over(w))
    edges = chain.filter(F.col("next_node").isNotNull()).select(
        F.col("node").alias("src"), F.col("next_node").alias("dst")
    )
    return wcc(edges)


def q_wcc_cyclic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCC on a CYCLIC subgraph of B1 (edges with l_quantity < 1.5 —
    ~2.3k undirected edges over ~900 nodes forming one dense component
    full of cycles at sf0.01).

    This is the fixpoint verification ``wcc`` (per-order chains, depth
    <= 7, acyclic) cannot give: min-label propagation + pointer jumping
    converging on a graph WITH cycles, hash-checked end-to-end. The
    oracle is the recursive reachability closure — terminating because
    the label lattice is finite (unlike cyclic min-DISTANCE, which is
    why ``sssp`` on B1 stays rows-only). Closure cost is
    O(sum comp_size^2) rows, which the quantity filter keeps bounded.
    """
    from ..graph.wcc import wcc

    li = load_table(spark, sf_dir, "lineitem")
    # Endpoint contract (r12) on top of the quantity subgraph filter
    # (which already drops NULL weights: NULL < 1.5 is never true).
    edges = li.filter(
        F.col("l_suppkey").isNotNull()
        & F.col("l_partkey").isNotNull()
        & (F.col("l_quantity") < 1.5)
    ).select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return wcc(edges)


# Part co-occurrence edges shared by triangle_counts, kcore, lpa and
# the other co-occurrence analytics: all analyze the SAME graph, and a
# production analytics pipeline materializes that graph once, not once
# per downstream algorithm. No query owns it, so the bench bills its
# build to shared_prep_sec instead of to whichever reader runs first.
@shared_state()
def _part_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cut(_part_cooccurrence_edges_plan(spark, sf_dir))


def _part_cooccurrence_edges_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) edges of the part co-occurrence graph: parts
    are adjacent when they ship in the same order. (The B1
    supplier->part digraph is bipartite, hence triangle-free, so this
    projection is the graph-analytics testbed for triangles/k-core.)

    Pair generation as ONE scan + ONE shuffle: group each order's
    distinct parts into a sorted array and emit the ordered pairs with
    generators (posexplode + slice), instead of the textbook
    distinct-then-self-join (two scans + a join shuffle — measured
    2x slower at sf0.1). Per-order arrays are basket-sized (<= 7
    here), so the generator fan-out is bounded.
    """
    from ..graph.triangles import canonical_edges

    # Incidence contract (r12 NULL-node-id sweep): o and p non-null —
    # Spark's groupBy KEEPS a NULL order-key group (lumping every
    # orphan part into one pseudo-basket that mints spurious pairs)
    # while the twins' a.o = b.o equi-join DROPS it; caught by the
    # crafted two-NULL-orderkey rows. All op-incidence twins mirror.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    ).select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    grp = li.groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("parts"))
    expl = grp.select("parts", F.posexplode("parts").alias("i", "u"))
    pairs = expl.select(
        "u", F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("v")
    )
    return canonical_edges(pairs)


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the part
    co-occurrence graph — the canonical consumer of a triangle count
    (lcc = 2*tri / deg*(deg-1)), emitted for every node including the
    triangle-free ones. Shares the memoized co-occurrence edges and the
    degree-oriented closure with triangle_counts; see
    graph/triangles.py:clustering_coefficients for the exactness note
    (single int/int double division, bit-stable across engines).
    """
    from ..graph.triangles import clustering_coefficients

    return clustering_coefficients(_part_cooccurrence_edges(spark, sf_dir))


def q_mis_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal independent set over the part co-occurrence
    graph — the engine's 11th fixpoint (graph/mis.py): Luby-style
    priority symmetry breaking, deterministic because priorities are a
    fixed multiplicative hash, so the result equals the sequential
    greedy MIS in priority order. The DuckDB twin unrolls the rounds
    exactly (_mis_oracle_sql), giving the removal-based fixpoint family
    its first full value-hash check (kcore is rows-only).
    """
    from ..graph.mis import mis_greedy

    return mis_greedy(
        _part_cooccurrence_edges(spark, sf_dir), max_rounds=_MIS_ORACLE_ROUNDS
    )


def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed part *sequence* graph (p_i ->
    p_{i+1} in l_linenumber order within each order — the market-basket
    sequence digraph, where reverse pairs genuinely occur across
    orders): the fraction of directed edges whose reverse edge also
    exists, the standard digraph symmetry measure.

    One window (lead over the order's line sequence), one distinct, one
    self-join on the reversed key, two scalar counts combined by a
    literal-on-literal crossJoin. At 100 TB: the window partitions by
    orderkey (basket-sized groups, no skew), the reciprocity self-join
    is an equi-join on (src, dst) — shuffle O(edges); the output is one
    row. reciprocity is a single BIGINT/BIGINT double division.
    """
    from pyspark.sql.window import Window

    # Sequence contract (r12): o/ln/p non-null — NULL ln is the
    # NULLS FIRST/LAST window-ordering trap. Twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_partkey").isNotNull()
    ).select(
        F.col("l_orderkey").alias("o"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_partkey").alias("p"),
    )
    # The synthetic lineitem carries duplicate (orderkey, linenumber)
    # pairs (11k groups at sf0.01), so ln alone is not a total order —
    # p joins the sort key to make the within-order p-sequence
    # deterministic (rows tying on (ln, p) are exact duplicates, whose
    # relative order cannot change the sequence of p values).
    w = Window.partitionBy("o").orderBy("ln", "p")
    seq = li.select(
        F.col("p").alias("src"), F.lead("p").over(w).alias("dst")
    )
    edges = keep(
        seq.filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_recip = edges.join(rev, ["src", "dst"], "semi").agg(
        F.count("*").alias("n_reciprocal")
    )
    return n_edges.crossJoin(n_recip).select(
        "n_edges",
        "n_reciprocal",
        (
            F.col("n_reciprocal").cast("double")
            / F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


def q_graph_diameter_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound by the classic DOUBLE SWEEP: BFS (the sssp
    fixpoint with unit weights) from the min node, then a second BFS
    from the farthest node found; the second eccentricity is the
    estimate (exact on trees, and empirically near-tight on real
    graphs — Magnien/Latapy/Habib's standard bound). Runs on the
    undirected unit-weight view of the B1 graph. Output one row:
    (sweep_start, far_a, far_b, est_diameter).

    Two sequential runs of the SAME hardened fixpoint engine — the
    double sweep is scheduling-wise just 2x sssp, against the
    all-pairs alternative that is |V| of them. The intermediate argmax
    is a 1-row driver scalar (dist DESC, node tiebreak — the min-src
    election device); unreachable nodes are naturally absent from the
    converged state.
    """
    base = edges_from_lineitem(spark, sf_dir)
    und = (
        base.select("src", "dst")
        .union(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    src0 = _min_source(und)
    out_schema = "sweep_start long, far_a long, far_b long, est_diameter double"
    # native_nulls + isNotNull: unreachable nodes must not win the
    # argmax (the compat 65535.0 sentinel would).
    d1 = sssp(und, src0, native_nulls=True).filter(F.col("dist").isNotNull())
    far_a_rows = d1.orderBy(F.col("dist").desc(), "node").limit(1).collect()
    if not far_a_rows:  # empty graph: no sweep to run, typed empty result
        return spark.createDataFrame([], out_schema)
    far_a = far_a_rows[0]
    d2 = sssp(und, int(far_a.node), native_nulls=True).filter(
        F.col("dist").isNotNull()
    )
    far_b = d2.orderBy(F.col("dist").desc(), "node").limit(1).collect()[0]
    return spark.createDataFrame(
        [(src0, int(far_a.node), int(far_b.node), float(far_b.dist))],
        out_schema,
    )


KTRUSS_K = 10
_KTRUSS_ORACLE_ROUNDS = 16


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=10) of the part co-occurrence graph — the
    edge-peeling fixpoint (graph/ktruss.py): maximal subgraph where
    every edge closes >= k-2 triangles within the subgraph. Output the
    surviving edges with their within-truss supports. The DuckDB twin
    unrolls the support-recount rounds (_ktruss_oracle_sql), making
    this the second removal fixpoint with a full value-hash check.

    NULL contract (r12): the co-occurrence incidence reads only
    (l_orderkey, l_partkey) — no l_quantity rail, matching
    _part_cooccurrence_edges_plan and the other six op-incidence twins
    (the r11 wave briefly added a WHERE here the engine never had;
    caught by the pair-forming NULL-quantity adversarial row).
    """
    from ..graph.ktruss import ktruss

    return ktruss(
        _part_cooccurrence_edges(spark, sf_dir),
        KTRUSS_K,
        max_rounds=_KTRUSS_ORACLE_ROUNDS,
    )


def _ktruss_oracle_sql(
    k: int = KTRUSS_K, rounds: int = _KTRUSS_ORACLE_ROUNDS
) -> str:
    """Unrolled DuckDB twin of q_ktruss: each round recomputes per-edge
    support over the remaining set (the edge_jaccard common-neighbor
    join) and drops edges under k-2; rounds after convergence are
    no-ops, so the final support CTE is the fixpoint. MATERIALIZED per
    round (the MIS oracle's inlining hazard)."""
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)",
        "e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"und{r} AS MATERIALIZED (SELECT u AS a, v AS b FROM e{p}"
            f" UNION ALL SELECT v AS a, u AS b FROM e{p})"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (\n"
            f"  SELECT e.u, e.v, count(*) AS c\n"
            f"  FROM e{p} e\n"
            f"  JOIN und{r} n1 ON n1.a = e.u\n"
            f"  JOIN und{r} n2 ON n2.a = e.v AND n2.b = n1.b\n"
            f"  GROUP BY e.u, e.v)"
        )
        ctes.append(
            f"sup{r} AS MATERIALIZED (\n"
            f"  SELECT e.u, e.v, COALESCE(c.c, 0) AS support\n"
            f"  FROM e{p} e LEFT JOIN c{r} c ON c.u = e.u AND c.v = e.v)"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT u, v FROM sup{r}"
            f" WHERE support >= {k - 2})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT u, v, CAST(support AS INTEGER) AS support"
        f" FROM sup{rounds} WHERE support >= {k - 2}"
    )


# random_walks: walk length (steps beyond the start node) and the
# exact-BIGINT step-hash constants, shared verbatim by the oracle.
WALK_STEPS = 4
_WALK_A1 = 2654435761  # Knuth multiplicative constants
_WALK_A2 = 2246822519
_WALK_A3 = 3266489917
_WALK_M = 4294967296  # 2^32


def _walk_hash(cur, step: int, nbr):
    """Deterministic per-(cur, step, neighbor) score — each term
    reduced mod 2^32 BEFORE the sum so the arithmetic stays exact
    int64 for node ids up to 2^32 (documented bound)."""
    return (
        (cur * F.lit(_WALK_A1)) % F.lit(_WALK_M)
        + (F.lit(step) * F.lit(_WALK_A2)) % F.lit(_WALK_M)
        + (nbr * F.lit(_WALK_A3)) % F.lit(_WALK_M)
    ) % F.lit(_WALK_M)


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the part co-occurrence graph:
    one walk of WALK_STEPS steps from EVERY node, each step moving to
    the neighbor minimizing a fixed per-(node, step, neighbor) hash —
    the derandomized analogue of uniform sampling (node2vec/DeepWalk's
    corpus generation), which is what makes the corpus hash-checkable.
    Output (start, step, node): step 0 is the start itself.

    Shape: WALK_STEPS bounded join rounds (NOT a convergence fixpoint —
    the trip count is a constant), each one equi-join of the static
    undirected edge list against the walk frontier (one row per start)
    followed by a min-struct argmin — map-side combinable, so the
    per-step shuffle is frontier-sized, never edge-sized. At 100 TB a
    production corpus samples its start set and replicates walks per
    start via an id-shard (the landmark_distances device); the
    per-step plan is unchanged.

    Determinism: the hash is exact int64 arithmetic (each product
    reduced mod 2^32 before summing), argmin ties break on the
    smaller neighbor id via the (hash, node) struct ordering —
    identical in DuckDB's row_number twin. Every node of this graph
    has degree >= 1, so walks never strand.
    """
    edges = _part_cooccurrence_edges(spark, sf_dir)
    und = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = und.select(F.col("u").alias("node")).distinct()
    walk = nodes.select(
        F.col("node").alias("start"), F.col("node").alias("cur")
    )
    out = walk.select(
        "start", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    for t in range(1, WALK_STEPS + 1):
        nxt = (
            walk.join(und, walk["cur"] == und["u"])
            .select(
                "start",
                F.struct(
                    _walk_hash(F.col("cur"), t, F.col("v")).alias("h"),
                    F.col("v").alias("node"),
                ).alias("hv"),
            )
            .groupBy("start")
            .agg(F.min("hv").alias("best"))
            .select("start", F.col("best.node").alias("cur"))
            # r12 NOTE (measured, then reverted): persisting each step
            # frontier looked like the textbook fix for the union's
            # per-branch recomputation, but ReuseExchange already
            # dedups the identical per-step exchanges inside the one
            # plan — the persists broke that sharing and measured 7.4s
            # -> 10.7s on walk_pmi_pairs (in-process alternating A/B,
            # min of 3). Left unpersisted on purpose.
        )
        out = out.unionByName(
            nxt.select(
                "start", F.lit(t).alias("step"), F.col("cur").alias("node")
            )
        )
        walk = nxt
    return out


def _random_walks_oracle_sql(steps: int = WALK_STEPS) -> str:
    """Unrolled DuckDB twin of q_random_walks (MATERIALIZED per step —
    same inlining hazard as the MIS oracle)."""
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)",
        "e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
        "und AS MATERIALIZED (SELECT u AS src, v AS dst FROM e"
        " UNION ALL SELECT v AS src, u AS dst FROM e)",
        "w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS cur"
        " FROM und)",
    ]
    for t in range(1, steps + 1):
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT start, dst AS cur FROM (\n"
            f"  SELECT w.start, n.dst,\n"
            f"         row_number() OVER (PARTITION BY w.start ORDER BY\n"
            f"           ((w.cur * {_WALK_A1}) % {_WALK_M}\n"
            f"            + ({t} * {_WALK_A2}) % {_WALK_M}\n"
            f"            + (n.dst * {_WALK_A3}) % {_WALK_M}) % {_WALK_M},\n"
            f"           n.dst) AS rn\n"
            f"  FROM w{t - 1} w JOIN und n ON n.src = w.cur\n"
            f") WHERE rn = 1)"
        )
    steps_union = "\nUNION ALL\n".join(
        f"SELECT start, CAST({t} AS INTEGER) AS step, cur AS node FROM w{t}"
        for t in range(0, steps + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + steps_union


WALK_PMI_WINDOW = 2
WALK_PMI_MIN_N = 2


def q_walk_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram PMI pairs from the deterministic walk corpus — the
    node2vec/DeepWalk preprocessing step that turns walks into training
    signal: co-occurrences of nodes within a +-{WALK_PMI_WINDOW}-step
    window of the SAME walk, scored by pointwise mutual information
    (what an SGNS embedding implicitly factorizes, per Levy & Goldberg).

    Composes q_random_walks' hash-checkable corpus: pairs come from a
    start-keyed self-join with a step-band predicate (per-walk rows are
    WALK_STEPS+1, so the join fan-out is a constant 7 per walk — never
    quadratic), counts and occurrence totals are exact ints, and the
    PMI ln(n_ab * Nocc^2 / (T * n_a * n_b)) is ONE identical float
    expression on exact ints quantized e6 (the psi ln-contract).

    At 100 TB the walk corpus IS the big table; the band self-join
    shuffles on the walk key once, the pair aggregate partial-combines,
    and the |nodes|-sized occurrence table joins back node-keyed as a
    plain shuffle join — never a forced broadcast (on a billion-node
    graph the occurrence table is executor-memory-sized; AQE still
    picks a broadcast at runtime when it actually fits). Only the two
    1-row scalar totals carry broadcast hints.
    """
    # r13 (VERDICT r12 item 6): the corpus was referenced FOUR times
    # (pair self-join legs, occ, n_tot), each reference replaying the
    # whole 4-step walk generation modulo ReuseExchange's partial
    # sharing — and the r12 A/B proved persisting the lazy corpus
    # breaks that sharing and is a net loss. Restructure instead:
    # collapse the corpus ONCE into per-walk sorted (step, node) arrays
    # (one groupBy — walks are WALK_STEPS+1 rows each, so arrays are
    # bounded), persist that walk-count-sized frame, and derive
    # everything from it. The start-keyed band self-join becomes an
    # in-array window enumeration (positions == steps: every node has
    # degree >= 1 so no walk strands and steps are the consecutive
    # 0..WALK_STEPS); occ and the scalar total become an explode /
    # size-sum over the same arrays. Pair multiset, counts and the PMI
    # expression are unchanged — oracle-identical. One corpus
    # computation instead of four partially-shared ones.
    # The collapsed corpus must be a flat LogicalRDD leaf, not a
    # persist(): the PMI join references it on BOTH sides (pairs and
    # the two occ legs), and DeduplicateRelations' re-id makes the
    # re-id'd subtrees miss the cache — a plain persist here measured
    # the corpus being recomputed per branch (the same bypass the
    # betweenness restructure hit; also why the r12 persist A/B read
    # "slower").
    walks = q_random_walks(spark, sf_dir)
    grouped = cut(
        walks.groupBy("start").agg(
            F.sort_array(F.collect_list(F.struct("step", "node"))).alias("w")
        )
    )
    pair_expr = F.expr(
        "flatten(transform(w, (x, i) -> "
        "transform(filter(slice(w, i + 2, {win}), y -> y.node != x.node), "
        "y -> struct(least(x.node, y.node) AS node_a, "
        "greatest(x.node, y.node) AS node_b))))".format(win=WALK_PMI_WINDOW)
    )
    pairs = (
        grouped.select(F.explode(pair_expr).alias("p"))
        .select("p.node_a", "p.node_b")
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= WALK_PMI_MIN_N)
    )
    occ = (
        grouped.select(F.explode("w").alias("e"))
        .groupBy(F.col("e.node").alias("node"))
        .agg(F.count("*").alias("n_occ"))
    )
    n_tot = grouped.agg(
        F.coalesce(F.sum(F.size("w")), F.lit(0)).alias("n_occ_tot")
    )
    t_tot = pairs.agg(F.sum("n_ab").alias("t_tot"))
    j = (
        pairs.join(
            occ.select(F.col("node").alias("node_a"),
                       F.col("n_occ").alias("occ_a")),
            "node_a",
        )
        .join(
            occ.select(F.col("node").alias("node_b"),
                       F.col("n_occ").alias("occ_b")),
            "node_b",
        )
        .crossJoin(F.broadcast(n_tot))  # 1-row scalar
        .crossJoin(F.broadcast(t_tot))  # 1-row scalar
    )
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("n_occ_tot").cast("double")
        * F.col("n_occ_tot").cast("double")
        / (
            F.col("t_tot").cast("double")
            * F.col("occ_a").cast("double")
            * F.col("occ_b").cast("double")
        )
    )
    return j.select(
        "node_a",
        "node_b",
        "n_ab",
        F.round(pmi * 1e6).cast("long").alias("pmi_e6"),
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-occurrence graph.

    The engine orients edges by degree before the closure probe
    (graph/triangles.py) so no hub can quadratically explode one task;
    the DuckDB oracle enumerates the identical triangle set with the
    canonical a<b<c three-way self-join.
    """
    from ..graph.triangles import triangle_counts

    return triangle_counts(_part_cooccurrence_edges(spark, sf_dir))


def q_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie strength of every part co-occurrence edge: common-neighbor
    count and neighborhood Jaccard per edge — the link-analysis /
    community-pre-filter feature set (same graph as triangle_counts,
    riding its checkpointed edge frame AND its degree-oriented closure,
    so each triangle is enumerated once and credited to its 3 edges).

    The oracle counts common neighbors directly (adjacency self-join
    per edge) — a different enumeration order of the identical set.
    jaccard is one int/int double division in both engines (correctly
    rounded — hash-exact), 0.0 for edges whose endpoint neighborhoods
    (endpoints excluded) are disjoint.
    """
    from ..graph.triangles import edge_tie_strength

    return edge_tie_strength(_part_cooccurrence_edges(spark, sf_dir))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80-core of the part co-occurrence graph (same graph as
    ``triangle_counts``): nodes surviving iterative peeling at k=80,
    with their in-core degree. k chosen so the peel genuinely cascades
    at sf0.01 (5 rounds, 1857 of 2000 nodes survive) rather than
    trivially keeping or deleting everything.

    Hash-checked oracle: synchronous peeling IS expressible as a
    round-bounded recursive CTE (the same device that oracles cyclic
    ``sssp``): each recursion level keeps the nodes whose count of
    still-alive neighbors is >= k, so level r is exactly the survivor
    set after r synchronous peels; 16 levels dominate the 5 rounds the
    sf0.01 graph needs, and extra stable levels are no-ops. Peeling is
    additionally cross-checked against a pure-Python reference in
    tests/test_kcore.py.
    """
    from ..graph.kcore import kcore

    return kcore(_part_cooccurrence_edges(spark, sf_dir), k=80)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 4 synchronous majority-vote label-propagation
    rounds over the part co-occurrence graph (same graph as
    ``triangle_counts``/``kcore``).

    Deterministic by construction — fixed round count, neighbor-majority
    vote with ties to the smallest label (graph/lpa.py) — so unlike
    classic run-to-convergence LPA it hash-checks cross-engine: the
    DuckDB oracle unrolls the 4 rounds as chained CTE stages, each the
    argmax-with-tie-break of the previous stage's neighbor labels
    (row_number ORDER BY count DESC, label — the same (count, label)
    order as the engine's single-shuffle ``mode(label, true)`` JVM
    aggregate, whose deterministic flag breaks count ties toward the
    lowest label value).
    """
    from ..graph.lpa import label_propagation

    return label_propagation(_part_cooccurrence_edges(spark, sf_dir), rounds=4)


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition, per community — the
    quality metric that tells you whether label_propagation found
    structure or noise: q_contrib = e_in/m - (d_tot/2m)^2 per
    community (sum over communities = the global Q; emitted per
    community so the output is a ranking of community quality AND the
    sum stays order-free for the caller — a global float sum over an
    arbitrary row order would not hash cross-engine).

    Composition: the 4-round LPA labels + two integer aggregates over
    the same co-occurrence edges (internal-edge count per community,
    degree mass per community). All inputs to the float expression are
    exact BIGINTs; the expression is two exact divisions, one multiply,
    one subtract — IEEE-pinned, same tree both engines.
    """
    from ..graph.lpa import label_propagation

    edges = _part_cooccurrence_edges(spark, sf_dir)
    lab = label_propagation(edges, rounds=4).select(
        "node", "community"
    )
    m_df = edges.agg(F.count("*").alias("m"))
    la = lab.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lb = lab.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    internal = (
        edges.join(la, "u")
        .join(lb, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    und = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    dsum = (
        deg.join(lab, "node")
        .groupBy("community")
        .agg(F.sum("deg").alias("d_tot"), F.count("*").alias("n_nodes"))
    )
    joined = (
        dsum.join(internal, "community", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "d_tot",
            "m",
        )
    )
    half = F.col("d_tot").cast("double") / (
        F.lit(2) * F.col("m")
    ).cast("double")
    return joined.select(
        "community",
        "n_nodes",
        "e_in",
        "d_tot",
        (
            F.col("e_in").cast("double") / F.col("m").cast("double")
            - half * half
        ).alias("q_contrib"),
    )


def q_compat_state_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-compat node-state records for the format job's initial state
    (grammar ``nodeId<SP>dist|dst:w,...|Y-or-N``, SingleSourceSP.java:114-121,
    140-145): source seeded 0.0/Y, everything else sentinel/N."""
    edges = edges_from_lineitem(spark, sf_dir)
    source = _min_source(edges)
    adj = adjacency_list(edges)
    state = adj.select(
        "node",
        F.when(F.col("node") == source, F.lit(0.0)).alias("dist"),
        "adj",
        (F.col("node") == source).alias("updated"),
    )
    return format_state_line(state)


def q_compat_final_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-compat ``source node dist`` final lines
    (SingleSourceSP.java:285-288) over the oracle-checkable DAG SSSP —
    a projection over the (memoized) converged state, not a second
    fixpoint run."""
    return format_final_line(_sssp_dag_converged(spark, sf_dir))


def q_compat_reverse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-compat ``node<TAB>csv`` reversed-adjacency lines
    (ReverseGraph.java:200)."""
    return format_reverse_line(reverse_graph(edges_from_lineitem(spark, sf_dir)))


LANDMARKS_K = 4
_LM_OFF = 1 << 32  # id-space shard stride; must exceed every node id


def q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths from the 4 smallest source nodes
    (landmarks) — the precompute behind landmark/ALT distance oracles,
    closeness estimates, and graph embeddings.

    The k-source amortization runs through the SINGLE hardened sssp
    fixpoint (graph/sssp.py, run by graph/fixpoint.py) rather than k
    sequential fixpoints: node ids are sharded into k disjoint ranges
    (idx * 2^32 + node), the edge set replicates per shard off a
    broadcast landmark table, and
    one virtual super-source (-1) connects to each shard's landmark
    with a weight-0 edge. One fixpoint then relaxes all k frontiers
    simultaneously — rounds are shared, the loop's checkpoint cadence,
    AQE clamp, and frontier gating apply once, and per-landmark
    distances decode back with shiftright/mask (exact int ops, no
    float division). At cluster scale this is k times the edge state
    but 1/k the scheduling and convergence overhead of sequential
    runs, and the bipartite-ish frontier dies at the same round for
    every shard.

    The landmark election is a bounded driver scalar (k smallest
    distinct srcs — the q_sssp min-src device, k rows not data).
    """
    return _landmark_state(spark, sf_dir)


# Converged landmark distances shared with q_closeness_landmark and
# harmonic_centrality — the centrality estimates are projections over
# the SAME converged state, so they must not re-run the k-source
# fixpoint.
@shared_state(owner="landmark_distances")
def _landmark_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cut(landmark_distances(edges_from_lineitem(spark, sf_dir)))


def q_closeness_landmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-based closeness centrality estimate: for every node,
    how many of the k landmarks reach it and the total distance from
    those that do — closeness = n_reach / sum_dist (Potamias et al.'s
    landmark approximation of closeness; exact closeness is a k=V
    all-pairs run, which is the thing landmarks exist to avoid).

    Pure projection over the memoized converged landmark state (one
    groupBy on node) — at 100 TB this is the read path of a landmark
    index, not a new fixpoint. Exactness: distances are sums of
    integer-valued weights (exact doubles), so their agg-order-free sum
    is exact and the one closing division is IEEE-identical in both
    engines; landmark self-rows (dist 0) are excluded so sum_dist > 0
    whenever n_reach > 0.
    """
    st = _landmark_state(spark, sf_dir)
    reach = st.filter(F.col("node") != F.col("landmark"))
    return (
        reach.groupBy("node")
        .agg(
            F.count("*").alias("n_reach"),
            F.sum("dist").alias("sum_dist"),
        )
        .select(
            "node",
            "n_reach",
            "sum_dist",
            (
                F.col("n_reach").cast("double") / F.col("sum_dist")
            ).alias("closeness"),
        )
    )


def landmark_distances(edges: DataFrame, k: int = LANDMARKS_K) -> DataFrame:
    """See q_landmark_distances. edges needs (src, dst, weight)."""
    spark = edges.sparkSession
    lms = [
        r[0]
        for r in edges.select("src").distinct().orderBy("src").limit(k).collect()
    ]
    lm_df = spark.createDataFrame(
        [(i, int(l)) for i, l in enumerate(lms)], "idx long, landmark long"
    )
    rep = edges.crossJoin(F.broadcast(lm_df)).select(
        (F.col("idx") * _LM_OFF + F.col("src")).alias("src"),
        (F.col("idx") * _LM_OFF + F.col("dst")).alias("dst"),
        "weight",
    )
    super_edges = lm_df.select(
        F.lit(-1).cast("long").alias("src"),
        (F.col("idx") * _LM_OFF + F.col("landmark")).alias("dst"),
        F.lit(0.0).alias("weight"),
    )
    st = sssp(rep.unionByName(super_edges), -1, native_nulls=True)
    return (
        st.filter((F.col("node") >= 0) & F.col("dist").isNotNull())
        .select(
            F.expr("shiftright(node, 32)").alias("idx"),
            F.expr(f"node & {_LM_OFF - 1}").alias("node"),
            "dist",
        )
        .join(F.broadcast(lm_df), "idx")
        .select("landmark", "node", "dist")
    )


# Unroll depth for the MIS oracle; the Spark side passes the same bound
# as max_rounds so both engines compute the identical round-indexed
# result. Greedy MIS decides an expected constant fraction per round
# (O(log n) w.h.p.); tests/test_mis.py pins convergence well under this
# at sf0.01, and an unconverged oracle surfaces as a row-count mismatch
# (undecided nodes simply miss from the decided union), never a silent
# wrong value.
_MIS_ORACLE_ROUNDS = 24


def _mis_oracle_sql(rounds: int = _MIS_ORACLE_ROUNDS) -> str:
    """Unrolled DuckDB twin of q_mis_greedy. Round k: winners w{k} are
    the remaining nodes strictly below every remaining neighbor's
    priority (the Knuth hash, exact BIGINT in both engines); losers
    l{k} are remaining neighbors of winners; rem{k} drops both. The
    final result unions every round's decisions with the round index —
    byte-identical to the Spark fixpoint's (node, in_mis,
    decided_round).
    """
    from ..graph.mis import MIS_PRI_MOD, MIS_PRI_MULT, _PRI_INF

    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)",
        "e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
        "und AS MATERIALIZED (SELECT u AS src, v AS dst FROM e"
        " UNION ALL SELECT v AS src, u AS dst FROM e)",
        "rem0 AS MATERIALIZED (SELECT DISTINCT src AS node,\n"
        f"         (src * {MIS_PRI_MULT}) % {MIS_PRI_MOD} AS pri FROM und)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        ctes.append(
            f"m{k} AS MATERIALIZED (SELECT u.dst AS node, MIN(r.pri) AS mn\n"
            f"  FROM und u JOIN rem{p} r ON r.node = u.src\n"
            f"  GROUP BY u.dst)"
        )
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT r.node FROM rem{p} r\n"
            f"  LEFT JOIN m{k} m ON m.node = r.node\n"
            f"  WHERE r.pri < COALESCE(m.mn, {_PRI_INF}))"
        )
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT DISTINCT u.dst AS node\n"
            f"  FROM und u JOIN w{k} w ON w.node = u.src\n"
            f"  JOIN rem{p} rr ON rr.node = u.dst)"
        )
        ctes.append(
            f"rem{k} AS MATERIALIZED (SELECT r.node, r.pri FROM rem{p} r\n"
            f"  WHERE r.node NOT IN (SELECT node FROM w{k})\n"
            f"    AND r.node NOT IN (SELECT node FROM l{k}))"
        )
    decided = "\nUNION ALL\n".join(
        f"SELECT node, TRUE AS in_mis, CAST({k} AS INTEGER) AS decided_round"
        f" FROM w{k}\nUNION ALL\n"
        f"SELECT node, FALSE AS in_mis, CAST({k} AS INTEGER) AS decided_round"
        f" FROM l{k}"
        for k in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT node, in_mis, decided_round FROM (\n"
        + decided
        + "\n)"
    )


WL_ROUNDS = 2


def q_wl_relabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler–Lehman color refinement ({WL_ROUNDS} rounds) over the
    undirected view of the B1 graph: every node's label is iteratively
    rehashed from (own label, sorted multiset of neighbor labels) —
    the graph-isomorphism feature extractor behind WL graph kernels
    and the expressiveness ceiling of message-passing GNNs. Output:
    (node, degree, wl_label) — nodes sharing a wl_label have
    indistinguishable {WL_ROUNDS}-hop neighborhoods.

    Determinism is total-order-by-construction: labels are STRINGS
    (round 0 = the exact degree; later rounds = md5 hex), the neighbor
    multiset is sorted lexicographically (binary collation — identical
    in both engines), serialized with ','/'|' separators, and rehashed
    with md5 (same bytes -> same hex in Spark and DuckDB). No floats
    exist anywhere in the operator.

    At 100 TB: exactly {WL_ROUNDS} bounded rounds, each ONE join
    (neighbor labels onto the edge list, keyed by the neighbor) + ONE
    groupBy(node) with a map-side partial collect — the reference's
    adjacency-list build (ReverseGraph.java:102-232, the grouped
    emission) run twice with a hash in the reducer. Hub nodes
    serialize O(degree) strings — the same hub cost as any adjacency
    materialization; the degree-cap seam (_permille_cap) applies
    unchanged if a power-law graph needs it.
    """
    e = edges_from_lineitem(spark, sf_dir).select("src", "dst").distinct()
    # nbr feeds the degree aggregate and every WL round's neighbor join,
    # but all consumers are distinct-branch joins/aggregates — AQE
    # exchange reuse shares them, and an explicit persist measured 2.4x
    # SLOWER (min-of-3 at sf0.1). Keep only true self-join subtrees
    # (see fixpoint.keep).
    nbr = e.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionAll(
        e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    deg = nbr.groupBy("node").agg(F.count("*").alias("degree"))
    lbl = deg.select("node", "degree", F.col("degree").cast("string").alias("lbl"))
    # r13: each round used to reference the previous ``lbl`` TWICE
    # (the neighbor-label join AND the own-label join onto the ns
    # signature), so the lazy plan DOUBLED per round — 4 copies of the
    # pair-generation base after the 2 rounds. A marked self-row union
    # makes every round reference lbl exactly once: the self row picks
    # up the node's own label/degree through the same join that fetches
    # neighbor labels, and ONE aggregate separates them again
    # (collect_list drops the NULL the self row maps to, so ns is the
    # identical sorted neighbor-label list; own/degree come from the
    # unique self row). Rounds now chain LINEARLY and the per-round
    # nbrx exchange is plan-identical across rounds (ReuseExchange
    # computes it once). Same labels, same hash, one fewer join and
    # one fewer aggregate per round. Measured 4.1 -> ~2.5 s (sf0.1).
    nbrx = nbr.select("node", "nbr", F.lit(False).alias("is_self")).unionAll(
        deg.select(
            "node", F.col("node").alias("nbr"), F.lit(True).alias("is_self")
        )
    )
    for _ in range(WL_ROUNDS):
        nl = nbrx.join(
            lbl.select(
                F.col("node").alias("nbr"),
                F.col("lbl").alias("nlbl"),
                F.col("degree").alias("ndeg"),
            ),
            "nbr",
        )
        lbl = (
            nl.groupBy("node")
            .agg(
                F.max(F.when(F.col("is_self"), F.col("ndeg"))).alias(
                    "degree"
                ),
                F.max(F.when(F.col("is_self"), F.col("nlbl"))).alias("own"),
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(F.when(~F.col("is_self"), F.col("nlbl")))
                    ),
                ).alias("ns"),
            )
            .select(
                "node",
                "degree",
                F.md5(F.concat_ws("|", F.col("own"), F.col("ns"))).alias(
                    "lbl"
                ),
            )
        )
    return lbl.select("node", "degree", F.col("lbl").alias("wl_label"))


QUERIES = {
    "sssp": q_sssp,
    "landmark_distances": q_landmark_distances,
    "closeness_landmark": q_closeness_landmark,
    "graph_diameter_estimate": q_graph_diameter_estimate,
    "sssp_dag": q_sssp_dag,
    "sssp_paths_dag": q_sssp_paths_dag,
    "betweenness_source_dag": q_betweenness_source_dag,
    "bipartite_projection": q_bipartite_projection,
    "longest_path_dag": q_longest_path_dag,
    "wcc": q_wcc,
    "wcc_cyclic": q_wcc_cyclic,
    "pagerank": q_pagerank,
    "hits_scores": q_hits,
    "personalized_pagerank": q_personalized_pagerank,
    "degree_assortativity": q_degree_assortativity,
    "two_hop_paths": q_two_hop_paths,
    "two_hop_paths_capped": q_two_hop_paths_capped,
    "bipartite_projection_capped": q_bipartite_projection_capped,
    "link_prediction_scores": q_link_prediction_scores,
    "graph_sample_khop": q_graph_sample_khop,
    "negative_sampling": q_negative_sampling,
    "scc": q_scc,
    "condensation_dag": q_condensation_dag,
    "compat_state_lines": q_compat_state_lines,
    "compat_final_lines": q_compat_final_lines,
    "compat_reverse_lines": q_compat_reverse_lines,
    "reverse_graph": q_reverse_graph,
    "reverse_graph_exploded": q_reverse_graph_exploded,
    "adjacency": q_adjacency,
    "text_edges_roundtrip": q_text_edges_roundtrip,
    "tsv_edges_roundtrip": q_tsv_edges_roundtrip,
    "triangle_counts": q_triangle_counts,
    "clustering_coefficient": q_clustering_coefficient,
    "random_walks": q_random_walks,
    "walk_pmi_pairs": q_walk_pmi_pairs,
    "ktruss": q_ktruss,
    "mis_greedy": q_mis_greedy,
    "graph_reciprocity": q_graph_reciprocity,
    "edge_jaccard": q_edge_jaccard,
    "kcore": q_kcore,
    "label_propagation": q_label_propagation,
    "community_modularity": q_community_modularity,
    "wl_relabel": q_wl_relabel,
}


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unrolled DuckDB twin of q_label_propagation: each stage computes
    every node's majority neighbor label from the previous stage, ties
    to the smallest label."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)",
        "e AS (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
        "und AS (SELECT u AS src, v AS dst FROM e"
        " UNION ALL SELECT v AS src, u AS dst FROM e)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM und)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"l{k} AS (SELECT node, label FROM (\n"
            f"  SELECT u.dst AS node, l.label, count(*) AS c,\n"
            f"         row_number() OVER (PARTITION BY u.dst\n"
            f"                            ORDER BY count(*) DESC, l.label) AS rn\n"
            f"  FROM und u JOIN l{k - 1} l ON l.node = u.src\n"
            f"  GROUP BY u.dst, l.label\n"
            f") WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label AS community FROM l{rounds}"
    )

ORACLE = {
    # Round-bounded Bellman-Ford: walk level r holds, per node, the min
    # left-associated path sum over exactly-r-hop paths; min over r <= 64
    # equals the converged fixpoint because every B1 weight >= 1 (so any
    # shortest path has fewer hops than its own integer distance, far
    # under 64) and all weights are integer-valued doubles (path sums are
    # exact — no ulp divergence between engines). The explicit round
    # counter is what makes the recursion terminate on a CYCLIC graph:
    # plain UNION dedup never would (cycles mint fresh dist values
    # forever) — same device as wcc_cyclic's finite label lattice.
    "landmark_distances": f"""
WITH RECURSIVE edges AS (
  SELECT src, dst, min(weight) AS weight FROM
    (SELECT l_suppkey AS src, l_partkey AS dst, l_quantity AS weight
     FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
       AND isfinite(l_quantity)) GROUP BY src, dst
),
lms AS (SELECT DISTINCT src AS landmark FROM edges
        ORDER BY src LIMIT {LANDMARKS_K}),
walk(r, landmark, node, dist) AS (
    SELECT 0, landmark, landmark, CAST(0.0 AS DOUBLE) FROM lms
    UNION
    SELECT w.r + 1, w.landmark, e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.r < 64
    GROUP BY w.r + 1, w.landmark, e.dst
)
SELECT landmark, node, min(dist) AS dist
FROM walk GROUP BY landmark, node
""",
    # Same round-bounded multi-source walk, aggregated to the
    # landmark-closeness estimate (self rows excluded; distances are
    # exact integer-valued doubles, so the sum is agg-order-free).
    "graph_diameter_estimate": """
WITH RECURSIVE und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem
    WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
      AND isfinite(l_quantity)
    UNION ALL
    SELECT l_partkey AS src, l_suppkey AS dst FROM lineitem
    WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
      AND isfinite(l_quantity))
),
s0 AS (SELECT min(src) AS n FROM und),
walk1(r, node, dist) AS (
    SELECT 0, (SELECT n FROM s0), CAST(0.0 AS DOUBLE)
    UNION
    SELECT w.r + 1, e.dst, min(w.dist + 1.0)
    FROM walk1 w JOIN und e ON e.src = w.node
    WHERE w.r < 64
    GROUP BY w.r + 1, e.dst
),
d1 AS (SELECT node, min(dist) AS dist FROM walk1 GROUP BY node),
fa AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1),
walk2(r, node, dist) AS (
    SELECT 0, (SELECT node FROM fa), CAST(0.0 AS DOUBLE)
    UNION
    SELECT w.r + 1, e.dst, min(w.dist + 1.0)
    FROM walk2 w JOIN und e ON e.src = w.node
    WHERE w.r < 64
    GROUP BY w.r + 1, e.dst
),
d2 AS (SELECT node, min(dist) AS dist FROM walk2 GROUP BY node),
fb AS (SELECT node, dist FROM d2 ORDER BY dist DESC, node LIMIT 1)
SELECT (SELECT n FROM s0) AS sweep_start,
       (SELECT node FROM fa) AS far_a,
       (SELECT node FROM fb) AS far_b,
       (SELECT dist FROM fb) AS est_diameter
""",
    "closeness_landmark": f"""
WITH RECURSIVE edges AS (
  SELECT src, dst, min(weight) AS weight FROM
    (SELECT l_suppkey AS src, l_partkey AS dst, l_quantity AS weight
     FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
       AND isfinite(l_quantity)) GROUP BY src, dst
),
lms AS (SELECT DISTINCT src AS landmark FROM edges
        ORDER BY src LIMIT {LANDMARKS_K}),
walk(r, landmark, node, dist) AS (
    SELECT 0, landmark, landmark, CAST(0.0 AS DOUBLE) FROM lms
    UNION
    SELECT w.r + 1, w.landmark, e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.r < 64
    GROUP BY w.r + 1, w.landmark, e.dst
),
d AS (SELECT landmark, node, min(dist) AS dist
      FROM walk GROUP BY landmark, node)
SELECT node, count(*) AS n_reach, sum(dist) AS sum_dist,
       CAST(count(*) AS DOUBLE) / sum(dist) AS closeness
FROM d WHERE node <> landmark GROUP BY node
""",
    "sssp": f"""
WITH RECURSIVE edges AS (
  SELECT src, dst, min(weight) AS weight FROM ({EDGES_SQL}) GROUP BY src, dst
),
src AS (SELECT min(src) AS s FROM edges),
walk(r, node, dist) AS (
    SELECT 0, s, CAST(0.0 AS DOUBLE) FROM src
    UNION
    SELECT w.r + 1, e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.r < 64
    GROUP BY w.r + 1, e.dst
),
best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
outn AS (SELECT DISTINCT src AS node FROM edges)
SELECT (SELECT s FROM src) AS source,
       coalesce(o.node, b.node) AS node,
       coalesce(b.dist, 65535.0) AS dist
FROM outn o FULL OUTER JOIN best b ON o.node = b.node
""",
    # Max-plus twin of sssp_dag: per-step maxima compose to true longest
    # paths on a DAG exactly as per-step minima compose to shortest.
    "longest_path_dag": f"""
WITH RECURSIVE edges AS ({EDGES_DAG_SQL}),
src AS (SELECT min(src) AS s FROM edges),
walk(node, dist) AS (
    SELECT s, CAST(0.0 AS DOUBLE) FROM src
    UNION
    SELECT e.dst, max(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    GROUP BY e.dst
),
best AS (SELECT node, max(dist) AS dist FROM walk GROUP BY node)
SELECT (SELECT s FROM src) AS source, node, dist FROM best
""",
    "sssp_dag": f"""
WITH RECURSIVE edges AS ({EDGES_DAG_SQL}),
src AS (SELECT min(src) AS s FROM edges),
walk(node, dist) AS (
    -- Level-synchronized Bellman-Ford: one min per destination per step.
    -- Terminates because the graph is a DAG of depth <= 6 (see
    -- edges_order_chain); per-step minima compose to true shortest paths.
    SELECT s, CAST(0.0 AS DOUBLE) FROM src
    UNION
    SELECT e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    GROUP BY e.dst
),
best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
outn AS (SELECT DISTINCT src AS node FROM edges)
SELECT (SELECT s FROM src) AS source,
       coalesce(o.node, b.node) AS node,
       coalesce(b.dist, 65535.0) AS dist
FROM outn o FULL OUTER JOIN best b ON o.node = b.node
""",
    # Fixed-iteration power method, mirroring graph/pagerank.py round for
    # round: per-node contribution sum (the 0-weight self-"carry" link
    # keeps in-link-free nodes in the recursion — adding 0.0 is an exact
    # float no-op), dangling mass via a scalar-subquery second reference
    # to the working table, identical damping/base/division shapes, and
    # the same round(rank*1e9) integer projection as the Spark entry.
    "sssp_paths_dag": f"""
WITH RECURSIVE edges AS ({EDGES_DAG_SQL}),
ec AS (SELECT src, dst, min(weight) AS weight FROM edges GROUP BY 1, 2),
srcq AS (SELECT min(src) AS s FROM edges),
walk(node, dist) AS (
    SELECT s, CAST(0.0 AS DOUBLE) FROM srcq
    UNION
    SELECT e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    GROUP BY e.dst
),
best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
parents AS (
  SELECT ec.dst AS child, min(ec.src) AS parent
  FROM ec JOIN best u ON u.node = ec.src
          JOIN best v ON v.node = ec.dst
  WHERE u.dist + ec.weight = v.dist
  GROUP BY ec.dst),
pw(node, hops, path) AS (
  SELECT (SELECT s FROM srcq), 0, CAST((SELECT s FROM srcq) AS VARCHAR)
  UNION ALL
  SELECT p.child, pw.hops + 1, pw.path || '->' || CAST(p.child AS VARCHAR)
  FROM pw JOIN parents p ON p.parent = pw.node
)
SELECT (SELECT s FROM srcq) AS source, pw.node, b.dist,
       CAST(pw.hops AS INT) AS hops, pw.path
FROM pw JOIN best b ON b.node = pw.node
""",
    "bipartite_projection": """
WITH inc AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
             WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
deg AS (SELECT s, COUNT(*) AS deg FROM inc GROUP BY s),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_shared
  FROM inc a JOIN inc b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT s1, s2, n_shared, d1.deg AS deg1, d2.deg AS deg2,
       CAST(n_shared AS DOUBLE)
         / CAST(d1.deg + d2.deg - n_shared AS DOUBLE) AS jaccard
FROM pairs JOIN deg d1 ON d1.s = s1 JOIN deg d2 ON d2.s = s2
""",
    "betweenness_source_dag": _betweenness_sql(),
    "hits_scores": _hits_sql(6),
    "pagerank": f"""
WITH RECURSIVE
e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
-- NOT "src UNION dst": under WITH RECURSIVE, DuckDB 1.0 gives a CTE
-- with a top-level UNION recursive-union treatment and skips the dedup.
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
links AS (
  SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.deg AS w
  FROM e JOIN deg ON deg.src = e.src
  UNION ALL
  SELECT node, node, CAST(0.0 AS DOUBLE) FROM nodes
),
dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
pr(it, node, rank) AS (
  SELECT 0, node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT p.it + 1, l.dst,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * (
             sum(p.rank * l.w)
             + (SELECT coalesce(sum(rank), 0.0) FROM pr
                WHERE node IN (SELECT node FROM dang)) / (SELECT n FROM nn)
           )
  FROM pr p JOIN links l ON l.src = p.node
  WHERE p.it < 6
  GROUP BY p.it + 1, l.dst
)
SELECT node, CAST(round(rank * 1e9) AS BIGINT) AS rank_e9
FROM pr WHERE it = 6
""",
    "condensation_dag": f"""
WITH RECURSIVE
e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL}) WHERE src <> dst),
e_all AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM ({EDGES_SQL})
                UNION ALL SELECT dst FROM ({EDGES_SQL}))),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
),
labels AS (
  SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc
  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
  GROUP BY n.node
)
SELECT ls.scc AS scc_src, ld.scc AS scc_dst, count(*) AS n_edges
FROM e_all
JOIN labels ls ON ls.node = e_all.src
JOIN labels ld ON ld.node = e_all.dst
WHERE ls.scc <> ld.scc
GROUP BY ls.scc, ld.scc
""",
    "scc": f"""
WITH RECURSIVE
e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL}) WHERE src <> dst),
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM ({EDGES_SQL})
                UNION ALL SELECT dst FROM ({EDGES_SQL}))),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
)
SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc
FROM nodes n LEFT JOIN mutual m ON m.u = n.node
GROUP BY n.node
""",
    "negative_sampling": f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
ranked AS (
  SELECT node, CAST(row_number()
                    OVER (ORDER BY node % {GQ_ID_SHARDS}, node) - 1
                    AS BIGINT) AS idx
  FROM nodes
),
nn AS (SELECT count(*) AS n FROM nodes),
cand AS (
  SELECT src, dst,
         CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '|'
                                     || CAST(dst AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT n FROM nn) AS idx
  FROM e
)
SELECT c.src, c.dst, r.node AS neg_dst
FROM cand c JOIN ranked r USING (idx)
WHERE r.node <> c.src
  AND NOT EXISTS (SELECT 1 FROM e x
                  WHERE x.src = c.src AND x.dst = r.node)
""",
    "two_hop_paths": f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
paths AS (
  SELECT a.src, b.dst AS "end" FROM e a JOIN e b ON a.dst = b.src
),
flagged AS (
  SELECT p.src, p."end",
         CASE WHEN d.src IS NOT NULL THEN 1 END AS is_direct
  FROM paths p LEFT JOIN e d ON d.src = p.src AND d.dst = p."end"
)
SELECT src, count(*) AS n_paths2,
       count(DISTINCT CASE WHEN "end" <> src AND is_direct IS NULL
                           THEN "end" END) AS n_fof
FROM flagged GROUP BY src
""",
    "two_hop_paths_capped": f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
outd AS (SELECT src AS mid, COUNT(*) AS outdeg FROM e GROUP BY 1),
ind  AS (SELECT dst AS mid, COUNT(*) AS indeg  FROM e GROUP BY 1),
loads AS (SELECT mid, indeg * outdeg AS load FROM ind JOIN outd USING (mid)),
hist AS (SELECT load, COUNT(*) AS c FROM loads GROUP BY 1),
cum AS (SELECT load,
               SUM(c) OVER (ORDER BY load ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist),
thr AS (SELECT MIN(load) AS cap FROM cum WHERE cum * 1000 >= n * 999),
keep AS (SELECT mid FROM loads WHERE load <= (SELECT cap FROM thr)),
paths AS (
  SELECT a.src, b.dst AS "end"
  FROM e a JOIN keep k ON k.mid = a.dst JOIN e b ON b.src = a.dst),
flagged AS (
  SELECT p.src, p."end",
         CASE WHEN d.src IS NOT NULL THEN 1 END AS is_direct
  FROM paths p LEFT JOIN e d ON d.src = p.src AND d.dst = p."end")
SELECT src, count(*) AS n_paths2,
       count(DISTINCT CASE WHEN "end" <> src AND is_direct IS NULL
                           THEN "end" END) AS n_fof
FROM flagged GROUP BY src
""",
    "bipartite_projection_capped": """
WITH inc AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
             WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
deg AS (SELECT s, COUNT(*) AS deg FROM inc GROUP BY s),
pdeg AS (SELECT p, COUNT(*) AS d FROM inc GROUP BY p),
hist AS (SELECT d, COUNT(*) AS c FROM pdeg GROUP BY 1),
cum AS (SELECT d,
               SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist),
thr AS (SELECT MIN(d) AS cap FROM cum WHERE cum * 1000 >= n * 999),
kept AS (SELECT i.s, i.p FROM inc i JOIN pdeg USING (p)
         WHERE pdeg.d <= (SELECT cap FROM thr)),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT s1, s2, n_shared, d1.deg AS deg1, d2.deg AS deg2,
       CAST(n_shared AS DOUBLE)
         / CAST(d1.deg + d2.deg - n_shared AS DOUBLE) AS jaccard
FROM pairs JOIN deg d1 ON d1.s = s1 JOIN deg d2 ON d2.s = s2
""",
    "link_prediction_scores": f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS x, GREATEST(src, dst) AS y
  FROM e WHERE src <> dst
),
adj AS (
  SELECT x AS r, y AS n FROM und
  UNION ALL
  SELECT y AS r, x AS n FROM und
),
deg AS (SELECT r, COUNT(*) AS d FROM adj GROUP BY r),
hist AS (SELECT d, COUNT(*) AS c FROM deg GROUP BY d),
cum AS (SELECT d,
               SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS nn
        FROM hist),
thr AS (SELECT MIN(d) AS cap FROM cum WHERE cum * 1000 >= nn * 999),
rel AS (
  SELECT a.r, a.n,
         CAST(round(1e9 / ln(CAST(deg.d AS DOUBLE))) AS BIGINT)
           AS aa_contrib_e9
  FROM adj a JOIN deg ON deg.r = a.r
  WHERE deg.d <= (SELECT cap FROM thr)
    AND deg.d <= {LINKPRED_MAX_RELAY_DEG}
    AND deg.d >= 2
),
pairs AS (
  SELECT a.n AS u, b.n AS v,
         COUNT(*) AS common_neighbors,
         CAST(SUM(b.aa_contrib_e9) AS BIGINT) AS aa_e9
  FROM rel a JOIN rel b ON a.r = b.r AND a.n <> b.n
  WHERE a.n % {LINKPRED_SEED_MOD} = 0
  GROUP BY 1, 2
),
non_edges AS (
  SELECT p.* FROM pairs p
  LEFT JOIN und ON und.x = LEAST(p.u, p.v) AND und.y = GREATEST(p.u, p.v)
  WHERE und.x IS NULL
)
SELECT ne.u, ne.v, ne.common_neighbors,
       du.d AS deg_u, dv.d AS deg_v,
       CAST(ne.common_neighbors AS DOUBLE)
         / CAST(du.d + dv.d - ne.common_neighbors AS DOUBLE) AS jaccard,
       ne.aa_e9
FROM non_edges ne JOIN deg du ON du.r = ne.u JOIN deg dv ON dv.r = ne.v
ORDER BY ne.aa_e9 DESC, ne.u, ne.v
LIMIT {LINKPRED_TOPK}
""",
    "graph_sample_khop": f"""
WITH e AS (
  SELECT src, dst,
         md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS rk
  FROM (SELECT DISTINCT src, dst FROM ({EDGES_SQL}))
),
ranked AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY rk) AS rn
    FROM e
  ) WHERE rn <= 3
),
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
seeds AS (SELECT node AS src FROM nodes
          WHERE md5(CAST(node AS VARCHAR)) < '4'),
hop1 AS (SELECT r.src, r.dst FROM ranked r JOIN seeds USING (src)),
frontier AS (SELECT DISTINCT dst AS src FROM hop1),
hop2 AS (SELECT r.src, r.dst FROM ranked r JOIN frontier USING (src))
SELECT 1 AS hop, src, dst FROM hop1
UNION ALL
SELECT 2 AS hop, src, dst FROM hop2
""",
    "degree_assortativity": f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY src),
ind  AS (SELECT dst, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY dst),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM e JOIN outd USING (src) JOIN ind USING (dst)
)
SELECT n AS n_edges,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS assortativity
FROM stats
""",
    # The pagerank twin with the teleport switched to the min-src
    # indicator: restart and dangling mass land on the seed; the
    # 0-weight self-link keeps every node in the recursion as before.
    "personalized_pagerank": f"""
WITH RECURSIVE
e AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL})),
s0 AS (SELECT min(src) AS s FROM e),
nodes AS (SELECT DISTINCT node
          FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
links AS (
  SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.deg AS w
  FROM e JOIN deg ON deg.src = e.src
  UNION ALL
  SELECT node, node, CAST(0.0 AS DOUBLE) FROM nodes
),
dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
pr(it, node, rank) AS (
  SELECT 0, node,
         CASE WHEN node = (SELECT s FROM s0)
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
  FROM nodes
  UNION ALL
  SELECT p.it + 1, l.dst,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           * (CASE WHEN l.dst = (SELECT s FROM s0)
                   THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         + CAST(0.85 AS DOUBLE) * (
             sum(p.rank * l.w)
             + (SELECT coalesce(sum(rank), 0.0) FROM pr
                WHERE node IN (SELECT node FROM dang))
               * (CASE WHEN l.dst = (SELECT s FROM s0)
                       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           )
  FROM pr p JOIN links l ON l.src = p.node
  WHERE p.it < 6
  GROUP BY p.it + 1, l.dst
)
SELECT node, CAST(round(rank * 1e9) AS BIGINT) AS rank_e9
FROM pr WHERE it = 6
""",
    "reverse_graph": f"""
WITH edges AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL}))
SELECT dst AS node,
       string_agg(CAST(src AS VARCHAR), ',' ORDER BY src) AS neighbors_csv,
       CAST(count(*) AS INT) AS indegree
FROM edges GROUP BY dst
""",
    "adjacency": f"""
WITH edges AS ({EDGES_SQL})
SELECT src AS node,
       string_agg(CAST(dst AS VARCHAR) || ':' || CAST(weight AS VARCHAR),
                  ',' ORDER BY dst, weight) AS adj_csv,
       CAST(count(*) AS INT) AS outdegree
FROM edges GROUP BY src
""",
    "reverse_graph_exploded": f"""
SELECT DISTINCT dst AS node, src AS neighbor FROM ({EDGES_SQL})
""",
    "wcc": """
WITH RECURSIVE e AS (
  SELECT node AS src, next_node AS dst FROM (
    SELECT l_orderkey * 8 + l_linenumber AS node,
           lead(l_orderkey * 8 + l_linenumber)
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS next_node
    FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
          WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
  ) WHERE next_node IS NOT NULL
),
und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
reach(node, label) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM und)
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
)
SELECT node, min(label) AS component FROM reach GROUP BY node
""",
    "wcc_cyclic": """
WITH RECURSIVE e AS (
  SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem
  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
    AND l_quantity IS NOT NULL AND l_quantity < 1.5
),
und AS (SELECT DISTINCT src, dst FROM e UNION SELECT DISTINCT dst, src FROM e),
reach(node, label) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM und)
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.node
)
SELECT node, min(label) AS component FROM reach GROUP BY node
""",
    "text_edges_roundtrip": EDGES_SQL,
    "tsv_edges_roundtrip": f"""
SELECT DISTINCT src, dst FROM ({EDGES_SQL})
""",
    "compat_state_lines": f"""
WITH edges AS ({EDGES_SQL}),
src AS (SELECT min(src) AS s FROM edges),
adj AS (
  SELECT src AS node,
         string_agg(CAST(dst AS VARCHAR) || ':' || CAST(weight AS VARCHAR),
                    ',' ORDER BY dst, weight) AS csv
  FROM edges GROUP BY src
)
SELECT CAST(node AS VARCHAR) || ' '
       || (CASE WHEN node = (SELECT s FROM src) THEN '0.0' ELSE '65535.0' END)
       || '|' || csv || '|'
       || (CASE WHEN node = (SELECT s FROM src) THEN 'Y' ELSE 'N' END) AS value
FROM adj
""",
    "compat_final_lines": f"""
WITH RECURSIVE edges AS ({EDGES_DAG_SQL}),
src AS (SELECT min(src) AS s FROM edges),
walk(node, dist) AS (
    SELECT s, CAST(0.0 AS DOUBLE) FROM src
    UNION
    SELECT e.dst, min(w.dist + e.weight)
    FROM walk w JOIN edges e ON e.src = w.node
    GROUP BY e.dst
),
best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
outn AS (SELECT DISTINCT src AS node FROM edges)
SELECT CAST((SELECT s FROM src) AS VARCHAR) || ' '
       || CAST(coalesce(o.node, b.node) AS VARCHAR) || ' '
       || CAST(coalesce(b.dist, 65535.0) AS VARCHAR) AS value
FROM outn o FULL OUTER JOIN best b ON o.node = b.node
""",
    "compat_reverse_lines": f"""
WITH edges AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL}))
SELECT CAST(dst AS VARCHAR) || chr(9)
       || string_agg(CAST(src AS VARCHAR), ',' ORDER BY src) AS value
FROM edges GROUP BY dst
""",
    # Synchronous k-core peel as round-bounded recursion: level r of
    # ``alive`` is the survivor set after r peels (a node survives a
    # level iff >= k of its neighbors were alive at the previous level —
    # the correlated count's IN reads the working table). 16 levels
    # dominate the 5 rounds sf0.01 needs; stable levels are no-ops.
    "kcore": """
WITH RECURSIVE
op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
e AS (SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
und AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
alive(r, node) AS (
  -- The -1 sentinel survives every level so the recursion always
  -- reaches level 16 even when the k-core is EMPTY (otherwise the last
  -- non-empty level would be the pre-extinction survivor set).
  SELECT 0, node FROM (SELECT DISTINCT src AS node FROM und
                       UNION ALL SELECT -1)
  UNION ALL
  SELECT a.r + 1, a.node
  FROM alive a
  WHERE a.r < 16
    AND (a.node = -1 OR
         (SELECT count(*) FROM und e2
          WHERE e2.src = a.node
            AND e2.dst IN (SELECT node FROM alive)) >= 80)
),
core AS (SELECT node FROM alive
         WHERE r = (SELECT max(r) FROM alive) AND node <> -1)
SELECT c.node,
       (SELECT count(*) FROM und e3
        WHERE e3.src = c.node
          AND e3.dst IN (SELECT node FROM core)) AS core_deg
FROM core c
""",
    "triangle_counts": """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
e AS (SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (SELECT unnest([a, b, c]) AS node FROM t)
SELECT node, count(*) AS n_tri FROM corners GROUP BY node
""",
    "label_propagation": _lpa_oracle_sql(),
    "community_modularity": f"""
WITH lab AS ({_lpa_oracle_sql()}),
ee AS (SELECT DISTINCT a.p AS u, b.p AS v
       FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) a
       JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) b
         ON a.o = b.o AND a.p < b.p),
m AS (SELECT count(*) AS m FROM ee),
internal AS (
  SELECT la.community, count(*) AS e_in
  FROM ee
  JOIN lab la ON la.node = ee.u
  JOIN lab lb ON lb.node = ee.v AND lb.community = la.community
  GROUP BY la.community),
undd AS (SELECT u AS node FROM ee UNION ALL SELECT v AS node FROM ee),
deg AS (SELECT node, count(*) AS deg FROM undd GROUP BY node),
dsum AS (
  SELECT l.community, CAST(SUM(d.deg) AS BIGINT) AS d_tot,
         COUNT(*) AS n_nodes
  FROM deg d JOIN lab l ON l.node = d.node
  GROUP BY l.community)
SELECT s.community, s.n_nodes, COALESCE(i.e_in, 0) AS e_in, s.d_tot,
       CAST(COALESCE(i.e_in, 0) AS DOUBLE)
         / CAST((SELECT m FROM m) AS DOUBLE)
       - (CAST(s.d_tot AS DOUBLE) / CAST(2 * (SELECT m FROM m) AS DOUBLE))
         * (CAST(s.d_tot AS DOUBLE) / CAST(2 * (SELECT m FROM m) AS DOUBLE))
         AS q_contrib
FROM dsum s LEFT JOIN internal i USING (community)
""",
    "mis_greedy": _mis_oracle_sql(),
    "random_walks": _random_walks_oracle_sql(),
    "walk_pmi_pairs": f"""
WITH walks AS MATERIALIZED (
{_random_walks_oracle_sql()}
),
pairs AS (
  SELECT least(a.node, b.node) AS node_a,
         greatest(a.node, b.node) AS node_b,
         COUNT(*) AS n_ab
  FROM walks a JOIN walks b
    ON a.start = b.start
   AND b.step > a.step AND b.step <= a.step + {WALK_PMI_WINDOW}
   AND a.node <> b.node
  GROUP BY 1, 2
  HAVING COUNT(*) >= {WALK_PMI_MIN_N}
),
occ AS (SELECT node, COUNT(*) AS n_occ FROM walks GROUP BY 1),
n_tot AS (SELECT COUNT(*) AS n_occ_tot FROM walks),
t_tot AS (SELECT SUM(n_ab) AS t_tot FROM pairs)
SELECT p.node_a, p.node_b, p.n_ab,
       CAST(round(ln(CAST(p.n_ab AS DOUBLE)
                     * CAST(n.n_occ_tot AS DOUBLE)
                     * CAST(n.n_occ_tot AS DOUBLE)
                     / (CAST(t.t_tot AS DOUBLE)
                        * CAST(oa.n_occ AS DOUBLE)
                        * CAST(ob.n_occ AS DOUBLE))) * 1e6) AS BIGINT)
         AS pmi_e6
FROM pairs p
JOIN occ oa ON oa.node = p.node_a
JOIN occ ob ON ob.node = p.node_b
CROSS JOIN n_tot n CROSS JOIN t_tot t
""",
    "ktruss": _ktruss_oracle_sql(),
    "clustering_coefficient": """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
e AS (SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
und AS (SELECT u AS src, v AS dst FROM e
        UNION ALL SELECT v AS src, u AS dst FROM e),
deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (SELECT unnest([a, b, c]) AS node FROM t),
nt AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node)
SELECT d.node, d.deg,
       COALESCE(nt.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * COALESCE(nt.n_tri, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN nt ON nt.node = d.node
""",
    "graph_reciprocity": """
WITH seq AS (SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
             FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
               AND l_partkey IS NOT NULL),
nxt AS (SELECT p AS src,
               LEAD(p) OVER (PARTITION BY o ORDER BY ln, p) AS dst
        FROM seq),
e AS (SELECT DISTINCT src, dst FROM nxt
      WHERE dst IS NOT NULL AND src <> dst),
r AS (SELECT count(*) AS n_reciprocal
      FROM e e1 JOIN e e2 ON e2.src = e1.dst AND e2.dst = e1.src),
n AS (SELECT count(*) AS n_edges FROM e)
SELECT n.n_edges, r.n_reciprocal,
       CAST(r.n_reciprocal AS DOUBLE) / CAST(n.n_edges AS DOUBLE)
         AS reciprocity
FROM n, r
""",
    "edge_jaccard": """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
e AS (SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
deg AS (SELECT a AS node, count(*) AS deg FROM adj GROUP BY a),
common AS (
  SELECT e.u, e.v, count(*) AS n_common
  FROM e
  JOIN adj n1 ON n1.a = e.u
  JOIN adj n2 ON n2.a = e.v AND n2.b = n1.b
  GROUP BY e.u, e.v)
SELECT e.u, e.v,
       COALESCE(c.n_common, 0) AS n_common,
       du.deg AS deg_u, dv.deg AS deg_v,
       CASE WHEN du.deg + dv.deg - 2 - COALESCE(c.n_common, 0) > 0
            THEN CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                 / CAST(du.deg + dv.deg - 2 - COALESCE(c.n_common, 0)
                        AS DOUBLE)
            ELSE 0.0 END AS jaccard
FROM e
LEFT JOIN common c ON c.u = e.u AND c.v = e.v
JOIN deg du ON du.node = e.u
JOIN deg dv ON dv.node = e.v
""",
    "wl_relabel": """
WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem
           WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
             AND isfinite(l_quantity)),
nbr AS (
  SELECT src AS node, dst AS nbr FROM e
  UNION ALL
  SELECT dst AS node, src AS nbr FROM e
),
l0 AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree,
         CAST(COUNT(*) AS VARCHAR) AS lbl
  FROM nbr GROUP BY node
),
l1 AS (
  SELECT me.node, me.degree,
         md5(me.lbl || '|' || string_agg(o.lbl, ',' ORDER BY o.lbl)) AS lbl
  FROM nbr JOIN l0 me ON me.node = nbr.node
           JOIN l0 o  ON o.node  = nbr.nbr
  GROUP BY me.node, me.degree, me.lbl
),
l2 AS (
  SELECT me.node, me.degree,
         md5(me.lbl || '|' || string_agg(o.lbl, ',' ORDER BY o.lbl)) AS lbl
  FROM nbr JOIN l1 me ON me.node = nbr.node
           JOIN l1 o  ON o.node  = nbr.nbr
  GROUP BY me.node, me.degree, me.lbl
)
SELECT node, degree, lbl AS wl_label FROM l2
""",
}
