"""Greedy maximal independent set — Luby-style symmetry breaking, the
engine's eleventh fixpoint pattern and the first whose convergence is
driven by *priorities* rather than values (sssp relaxes distances, wcc
propagates labels, kcore peels degrees; MIS breaks ties).

Algorithm (deterministic parallel greedy, Luby 1986 / Blelloch et al.
2012): give every node a fixed pseudorandom priority; each round, every
still-undecided node that is a strict local minimum among its undecided
neighbors joins the MIS, and its undecided neighbors are removed.
With distinct priorities this converges to exactly the sequential
greedy MIS in priority order (Blelloch's "deterministic parallelism"
result), in O(log n) rounds with high probability — which is what makes
it hash-checkable: the result is a pure function of the priority map,
not of scheduling.

Priorities are the Knuth multiplicative hash ``(node * 2654435761) mod
2^32`` — odd multiplier, so the map is injective mod 2^64 and no two
nodes can tie (strict-minimum is then well-defined). Both engines
evaluate it in exact BIGINT arithmetic; node ids up to ~3.4e9 stay
within int64 in the product (doc'd bound, far above any SF here).

Round shape (kcore's discipline, fixpoint.py's loop hardening): the
undirected edge list is static — partitioned once on the message key,
persisted, never re-shuffled; per-round work is one join of edges
against the shrinking undecided set (messages = undecided neighbors'
priorities), a min-combine, and a left-join state update; one count()
action per round doubles as the convergence test; on a cluster a
reliable checkpoint every 3 rounds truncates lineage. Winners are
broadcast for the removal join (a vertex subset, orders smaller than
edges); if a first round's winner set outgrew a broadcast at some
extreme scale, dropping the hint falls back to a shuffle join with the
same round shape.

At 100 TB: per-round shuffle volume is proportional to edges incident
to *undecided* nodes, which shrinks geometrically (each round decides
an expected constant fraction); the static edge list never moves after
its one partitioning.

No recursive-CTE oracle exists (rounds delete state — same class as
kcore), but unlike kcore the round count is small and bounded, so the
DuckDB twin UNROLLS the rounds exactly (graph_queries._mis_oracle_sql),
making this the first removal-based fixpoint with a full value-hash
check. tests/test_mis.py additionally referees independence +
maximality + greedy equivalence against pure Python on random graphs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fixpoint import RoundState, hold, loop_partitions, static_rounds

#: Knuth multiplicative-hash constants, shared verbatim by the DuckDB
#: twin (both engines evaluate the identical exact-integer expression).
MIS_PRI_MULT = 2654435761
MIS_PRI_MOD = 4294967296  # 2^32
_PRI_INF = (1 << 63) - 1  # > any priority; stands in for "no neighbor"


def mis_priority(node: Column) -> Column:
    """Deterministic distinct priority for a node id (exact BIGINT)."""
    return (node * F.lit(MIS_PRI_MULT)) % F.lit(MIS_PRI_MOD)


#: Driver tail-finish thresholds: once the undecided subgraph fits both
#: bounds, the remaining Luby rounds run as one in-process simulation of
#: the IDENTICAL recurrence (same winners, same losers, same
#: decided_round — the result is provably byte-equal, pinned in
#: tests/test_mis.py). Bounds cap driver memory at ~tens of MB of
#: (long, long) rows regardless of corpus size; above them the loop
#: stays fully distributed.
MIS_TAIL_NODES = 100_000
MIS_TAIL_EDGES = 5_000_000


def _tail_rounds(nodes, pris, us, vs, first_round: int) -> list:
    """In-process continuation of the Luby recurrence over the
    undecided induced subgraph: per round, undecided strict local
    minima win, their undecided neighbors lose; rounds keep counting
    from ``first_round`` so decided_round matches the distributed
    labeling exactly.

    Fully vectorized (numpy): ``us``/``vs`` carry BOTH directions of
    every undirected edge (as the distributed loop's ``und`` does), so
    one ``minimum.at`` scatter per round computes every node's min
    undecided-neighbor priority — O(E) per round, ~50ms per million
    edges, which is what makes collecting a few-million-edge tail
    cheaper than 3-6 more cluster rounds.
    """
    import numpy as np

    nodes = np.asarray(nodes, dtype=np.int64)
    order = np.argsort(nodes)
    snodes = nodes[order]
    spris = np.asarray(pris, dtype=np.int64)[order]
    ui = np.searchsorted(snodes, np.asarray(us, dtype=np.int64))
    vi = np.searchsorted(snodes, np.asarray(vs, dtype=np.int64))
    # Pre-sort the edge list by source ONCE so each round's per-node
    # neighbor-min is a contiguous segmented reduce (minimum.reduceat,
    # ~10x faster than the unbuffered minimum.at scatter).
    perm = np.argsort(ui, kind="stable")
    ui, vi = ui[perm], vi[perm]
    n = len(snodes)
    undec = np.ones(n, dtype=bool)
    out_mis = np.zeros(n, dtype=bool)
    out_round = np.zeros(n, dtype=np.int64)
    inf = np.int64(_PRI_INF)
    rnd = first_round
    while undec.any():
        act = undec[ui] & undec[vi]
        ua, va = ui[act], vi[act]
        min_nbr = np.full(n, inf, dtype=np.int64)
        if len(ua):
            starts = np.r_[0, np.flatnonzero(np.diff(ua)) + 1]
            min_nbr[ua[starts]] = np.minimum.reduceat(spris[va], starts)
        winners = undec & (spris < min_nbr)
        losers = np.zeros(n, dtype=bool)
        losers[va[winners[ua]]] = True
        losers &= undec & ~winners
        decided = winners | losers
        out_mis |= winners
        out_round[decided] = rnd
        undec &= ~decided
        rnd += 1
    return [
        (int(snodes[i]), bool(out_mis[i]), int(out_round[i]))
        for i in range(n)
    ]


def mis_greedy(
    edges: DataFrame,
    *,
    max_rounds: int = 64,
    tail_nodes: int = MIS_TAIL_NODES,
    tail_edges: int = MIS_TAIL_EDGES,
) -> DataFrame:
    """Greedy MIS over canonical (u < v) distinct undirected edges.

    Returns one row per node: (node, in_mis, decided_round) —
    ``in_mis`` true for MIS members, ``decided_round`` the 1-based
    round in which the node was selected (winners) or eliminated
    (neighbors of winners).

    Hybrid tail finish (the standard BSP tail cut, same spirit as
    GraphX's local fallback): each Luby round costs a fixed number of
    scheduled jobs, so once the geometrically-shrinking undecided set
    fits ``tail_nodes``/``tail_edges``, paying 3-6 more cluster rounds
    for a few thousand stragglers is pure scheduling latency. The
    induced undecided subgraph is collected once (Arrow, bounded by the
    thresholds) and the SAME recurrence finishes in-process — labels
    and decided_round are byte-identical either way (test-pinned), so
    the DuckDB unrolled oracle is unaffected. ``tail_nodes=0`` forces
    the fully distributed path (used by tests to keep the loop
    covered).

    The tail finish ends the loop from inside a round, without
    materializing the finished state, so this loop is written out on
    ``RoundState`` instead of ``fixpoint.converge``.
    """
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    with static_rounds(spark, parts=n_part, no_broadcast=True):
        # Both directions so each endpoint sees the edge; partitioned
        # once on u (the message-send key), never re-shuffled.
        und = hold(
            edges.select("u", "v")
            .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition(n_part, "u")
        )
        rounds = RoundState(spark, 3)
        state = hold(
            und.select(F.col("u").alias("node"))
            .distinct()
            .select(
                "node",
                mis_priority(F.col("node")).alias("pri"),
                F.lit(None).cast("boolean").alias("in_mis"),
                F.lit(None).cast("int").alias("decided_round"),
            )
        )

        n_undec = -1  # defined even if max_rounds < 1 skips the loop body
        for rnd in range(1, max_rounds + 1):
            undecided = state.filter(F.col("in_mis").isNull()).select(
                "node", "pri"
            )
            # The one action per round: materializes state AND tests
            # the fixed point.
            n_undec = undecided.count()
            # Only NOW is this round's state filled, so the parent can
            # drop (RoundState.advance has the measured reason).
            rounds.release()
            if n_undec == 0:
                break
            if 0 < n_undec <= tail_nodes:
                u_set = undecided.select(F.col("node").alias("u"))
                v_set = undecided.select(F.col("node").alias("v"))
                sub = und.join(F.broadcast(u_set), "u", "left_semi").join(
                    F.broadcast(v_set), "v", "left_semi"
                )
                rows = sub.limit(tail_edges + 1).toPandas()
                if len(rows) <= tail_edges:
                    pu = undecided.toPandas()
                    decided = _tail_rounds(
                        pu["node"].to_numpy(),
                        pu["pri"].to_numpy(),
                        rows["u"].to_numpy(),
                        rows["v"].to_numpy(),
                        rnd,
                    )
                    dec_df = spark.createDataFrame(
                        decided, "node long, new_mis boolean, tail_round int"
                    )
                    state = state.join(dec_df, "node", "left").select(
                        "node",
                        "pri",
                        F.coalesce("in_mis", "new_mis").alias("in_mis"),
                        F.coalesce("decided_round", "tail_round").alias(
                            "decided_round"
                        ),
                    )
                    break
                # induced subgraph too dense for the driver: stay
                # distributed this round, re-test next round.
            # Messages: every edge whose SOURCE is undecided carries
            # that source's priority to its neighbor; min-combine per
            # receiver. (Decided receivers get messages too — harmless,
            # the winner join below only consults undecided nodes.)
            # The undecided set shrinks geometrically, and n_undec is
            # already in hand from the convergence action — once it
            # fits a broadcast, hint it so the edge side of this join
            # never moves (map-side probe of the persisted partitioning
            # instead of a shuffle; AQE is off inside the loop by
            # design, so the static planner needs the hint).
            undec_u = undecided.select(
                F.col("node").alias("u"), F.col("pri").alias("nbr_pri")
            )
            if n_undec <= 2_000_000:  # vertex rows: (long, long)
                undec_u = F.broadcast(undec_u)
            msgs = (
                und.join(undec_u, "u")
                .groupBy("v")
                .agg(F.min("nbr_pri").alias("min_nbr"))
                .select(F.col("v").alias("node"), "min_nbr")
            )
            winners = (
                undecided.join(msgs, "node", "left")
                .filter(
                    F.col("pri")
                    < F.coalesce("min_nbr", F.lit(_PRI_INF))
                )
                .select("node")
            )
            # Neighbors of winners — WITHOUT filtering to undecided:
            # already-decided neighbors are protected by the coalesce in
            # the state update (their in_mis/decided_round win the
            # coalesce), so the semi-join against the undecided set
            # would only re-derive what coalesce already guarantees
            # (measured ~15% per-round savings at sf0.1). Winners are
            # never neighbors of winners (two adjacent undecided nodes
            # cannot both be strict local minima), so winner/loser rows
            # stay disjoint and decisions has <= 1 row per node.
            losers = (
                und.join(
                    F.broadcast(winners.withColumnRenamed("node", "u")), "u"
                )
                .select(F.col("v").alias("node"))
                .distinct()
            )
            decisions = winners.select(
                "node", F.lit(True).alias("new_mis")
            ).unionByName(losers.select("node", F.lit(False).alias("new_mis")))
            new_state = state.join(decisions, "node", "left").select(
                "node",
                "pri",
                F.coalesce("in_mis", "new_mis").alias("in_mis"),
                F.coalesce(
                    "decided_round",
                    F.when(F.col("new_mis").isNotNull(), F.lit(rnd)),
                ).alias("decided_round"),
            )
            state = rounds.advance(new_state, rnd, parent=state)
        else:
            warnings.warn(
                f"mis_greedy: max_rounds={max_rounds} exhausted with "
                f"{n_undec} nodes undecided; result is an independent set "
                "but may not be maximal",
                RuntimeWarning,
                stacklevel=2,
            )
    out = state.select("node", "in_mis", "decided_round")
    und.unpersist()
    return out
