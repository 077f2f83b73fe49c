"""Strongly connected components — the 10th fixpoint pattern, and the
first NESTED one: the outer peel loop alternates three inner fixpoints
(trim, min-coloring, constrained backward reach), the
FW-BW-Trim/coloring family (Orzan's coloring; Slota et al.'s
Multistep) that is the published answer for SCC at cluster scale —
Tarjan is inherently sequential, and the naive transitive closure is
O(V·reach) state.

Per outer round:

1. TRIM (inner fixpoint A, the kcore peel shape): nodes missing either
   an in- or an out-edge in the live subgraph cannot lie on a cycle —
   they are singleton SCCs; removing them exposes more, so peel to
   fixpoint. On DAG-like graphs this alone resolves almost everything.
2. MIN-COLORING (inner fixpoint B, the wcc label shape, directed):
   every live node's color converges to the minimum node id among its
   ancestors-or-self. A node whose color is its own id (a "root") is
   the minimum of every ancestor chain into it.
3. CONFIRM (inner fixpoint C, the sssp frontier shape, reversed and
   color-constrained): from each root, walk REVERSE edges staying
   inside the root's color class. Every node reached is mutually
   reachable with the root (root reaches it by the color's definition,
   it reaches the root by the walk), so the reached set IS the root's
   SCC. Confirmed nodes leave the graph; unconfirmed color classes
   retry next round with their blocking upstream SCCs gone.

Labels: each SCC reports ``scc = min(member)`` — relabeled after
confirmation, because a root is the min of its ANCESTRY, not
necessarily of its SCC — which makes the output a pure function of the
graph (and lets the DuckDB twin define it declaratively via mutual
reachability, an entirely independent formulation).

Scale posture: identical to the sibling loops — edges distinct +
hash-partitioned once, static_rounds clamp, persist/checkpoint cadence,
one count() action per inner round. Outer rounds are bounded by the
longest chain of SCCs blocking each other's minima (the condensation
DAG's depth), the same bound the published algorithms carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .fixpoint import cut, loop_partitions, static_rounds


def scc(edges: DataFrame, *, max_outer: int = 50) -> DataFrame:
    """(node BIGINT, scc BIGINT): scc = min node id of the node's
    strongly connected component (singletons label themselves)."""
    spark = edges.sparkSession
    n_part = loop_partitions(spark, edges)

    # Every lineage cut below is fixpoint.cut: an eager localCheckpoint
    # under a local master (one materialization, no write-twice), a
    # reliable checkpoint on a cluster.
    with static_rounds(spark, parts=n_part):
        e = (
            edges.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))  # self-loops: trivial cycles
            .distinct()
            .repartition(n_part, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = (
            edges.select(F.col("src").cast("long").alias("node"))
            .union(edges.select(F.col("dst").cast("long").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        done_parts: list[DataFrame] = []
        active = nodes
        live = e
        for _outer in range(max_outer):
            # --- A: trim peel -------------------------------------------
            while True:
                with_out = live.select(F.col("src").alias("node")).distinct()
                with_in = live.select(F.col("dst").alias("node")).distinct()
                keep = (
                    active.join(with_out, "node")
                    .join(with_in, "node")
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                n_keep = keep.count()
                n_active = active.count()
                if n_keep == n_active:
                    keep.unpersist()
                    break
                trimmed = active.join(keep, "node", "left_anti").select(
                    "node", F.col("node").alias("scc")
                )
                done_parts.append(cut(trimmed))
                # checkpoint, not persist: the peel/confirm chain
                # otherwise accumulates a join-tree whose replan cost
                # dominates (measured minutes on a 5-edge graph).
                live = (
                    live.join(
                        keep.select(F.col("node").alias("src")), "src"
                    )
                    .join(keep.select(F.col("node").alias("dst")), "dst")
                    .select("src", "dst")
                    .repartition(n_part, "src")
                )
                live = cut(live)
                active = cut(keep)
                keep.unpersist()
            if active.count() == 0:
                break

            # --- B: min-coloring to fixpoint ----------------------------
            color = cut(
                active.select("node", F.col("node").alias("color"))
            )
            while True:
                msgs = (
                    color.join(live, color["node"] == live["src"])
                    .select(F.col("dst").alias("node"), "color")
                )
                new_color = (
                    color.select("node", "color")
                    .unionByName(msgs)
                    .groupBy("node")
                    .agg(F.min("color").alias("color"))
                )
                new_color = cut(new_color)
                changed = (
                    new_color.join(
                        color.withColumnRenamed("color", "old"), "node"
                    )
                    .filter(F.col("color") < F.col("old"))
                    .count()
                )
                color = new_color
                if changed == 0:
                    break

            # --- C: backward reach inside each root's color class -------
            rev_in_class = (
                live.join(
                    color.select(
                        F.col("node").alias("src"),
                        F.col("color").alias("c_src"),
                    ),
                    "src",
                )
                .join(
                    color.select(
                        F.col("node").alias("dst"),
                        F.col("color").alias("c_dst"),
                    ),
                    "dst",
                )
                .filter(F.col("c_src") == F.col("c_dst"))
                # reversed: walk from v back to its predecessors
                .select(
                    F.col("dst").alias("from"),
                    F.col("src").alias("to"),
                    F.col("c_src").alias("color"),
                )
                .repartition(n_part, "from")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            members = cut(
                color.filter(F.col("node") == F.col("color"))
                .select("node", F.col("color").alias("root"))
            )
            frontier = members
            while True:
                step = (
                    frontier.join(
                        rev_in_class,
                        frontier["node"] == rev_in_class["from"],
                    )
                    .filter(F.col("root") == F.col("color"))
                    .select(F.col("to").alias("node"), "root")
                    .distinct()
                )
                fresh = cut(
                    step.join(members, ["node", "root"], "left_anti")
                )
                if fresh.count() == 0:
                    break
                members = cut(members.unionByName(fresh))
                frontier = fresh

            scc_labels = (
                members.groupBy("root")
                .agg(F.min("node").alias("scc"))
                .join(members, "root")
                .select("node", "scc")
            )
            done_parts.append(cut(scc_labels))
            confirmed = members.select("node").distinct()
            active = cut(
                active.join(confirmed, "node", "left_anti")
            )
            live = cut(
                live.join(active.select(F.col("node").alias("src")), "src")
                .join(active.select(F.col("node").alias("dst")), "dst")
                .select("src", "dst")
                .repartition(n_part, "src")
            )
            rev_in_class.unpersist()
            if active.count() == 0:
                break
        else:
            raise RuntimeError(f"scc did not converge in {max_outer} rounds")

        # Anything still active at a clean break is impossible (the loop
        # exits only on empty active), but a leftover from max_outer
        # raises above. Assemble the answer. An empty node set breaks
        # on the first trim with nothing appended — return the empty
        # (node, scc) frame instead of indexing an empty list.
        if not done_parts:
            return spark.createDataFrame(
                [], "node bigint, scc bigint"
            )
        out = done_parts[0]
        for p in done_parts[1:]:
            out = out.unionByName(p)
    return out
