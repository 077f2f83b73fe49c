"""The round-loop runtime shared by every graph fixpoint.

The reference runs its query as a chain of MapReduce jobs, one per
relaxation round, stopped by a Hadoop counter
(SingleSourceSP.java:439-519). Every iterative operator here is that
same loop over DataFrames, and this module is the only place that
knows how it runs:

* ``loop_partitions`` sizes a loop's shuffle partitions from its input;
* ``static_rounds`` scopes AQE, the shuffle-partition clamp and the
  implicit-broadcast switch to the loop;
* ``hold`` / ``RoundState`` materialize the state once per round, with
  the local and cluster branches, and release a round's parent only
  after its child is filled;
* ``keep`` is the one materialization outside a loop: ``hold`` under
  ``static_rounds``, so the core-count clamp is compiled into the frame
  and registration starts no job;
* ``cut`` is the one eager lineage cut (loop intermediates and the
  cross-query shared states);
* ``converge`` runs the loop: one ``count()`` per round is both the
  convergence test and the round's materialization, and running out of
  ``max_rounds`` emits one ``RuntimeWarning`` naming the loop.

``keep``, ``hold`` (inside a ``static_rounds`` scope) and ``cut`` are
the only ways the package materializes a frame
(tests/test_single_primitive.py). On a local master each returns a
LogicalRDD leaf whose blocks the ContextCleaner frees once the frame
is unreferenced, so no query leaves an entry in the CacheManager.

Reliable checkpoints are taken only on a cluster master, and the
checkpoint dir is set up on first use (``SPARK_GRAFT_CKPT_DIR``, else a
tempdir), so the engine works on sessions it did not create.
"""

from __future__ import annotations

import os
import tempfile
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def loop_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Data-proportional partition count for a fixpoint loop.

    The input's source-file count bounds useful parallelism: at 100 TB
    it far exceeds the cluster's cores and the cores win
    (``defaultParallelism``); at test scale it stops every stage of
    every round from launching a cluster's worth of near-empty tasks
    (measured 1.5-3x end-to-end on the graph suite at sf0.01 — per-round
    task-launch overhead dominates tiny shuffles). Floor of 4 keeps a
    single-file input from serializing the loop.

    ``inputFiles()`` is pure scan metadata — unlike
    ``df.rdd.getNumPartitions()``, it never executes query stages (which
    AQE would do for any derived plan, running the edge-derivation
    pipeline once just to learn its partition count). Local files are
    sized directly (~1 MB of COMPRESSED source per loop partition —
    parquet decompresses ~5-10x and in-loop state is row-expanded, so
    this is deliberately far finer than the 128 MB scan split size;
    measured best 8-16 partitions for the 11 MB sf0.1 edges vs 4 from
    file count); non-local URIs fall back to one partition per file,
    and any failure falls back to ``defaultParallelism``.
    """
    per_part = 1 << 20
    try:
        files = df.inputFiles()
        local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
        if local and len(local) == len(files):
            total = sum(os.path.getsize(f) for f in local)
            data_parts = max(len(files), total // per_part)
        else:
            data_parts = max(len(files), 1)
    except Exception:  # noqa: BLE001 — sizing heuristic, never fatal
        data_parts = spark.sparkContext.defaultParallelism
    return int(max(4, min(spark.sparkContext.defaultParallelism, data_parts)))


_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_REMOVE_ALIASES = "org.apache.spark.sql.catalyst.optimizer.RemoveRedundantAliases"


@contextmanager
def static_rounds(
    spark: SparkSession,
    parts: int | None = None,
    no_broadcast: bool = False,
):
    """Disable AQE for the duration of a fixpoint loop, restoring the
    session's prior setting afterwards.

    Inside an iterative loop the per-round plan is IDENTICAL every
    round, so adaptive execution's per-stage re-planning buys nothing
    and costs a fixed re-plan latency per stage per round — measured
    1.5-2.4x end-to-end on the graph suite at sf0.01 (sssp 18.1s ->
    11.7s, wcc 16.7s -> 7.2s, sssp_dag 11.5s -> 4.8s on local[32]).
    The one AQE feature that matters mid-loop at scale — skew-join
    splitting for power-law frontiers — is a property of the graph, not
    the round; on a known-skewed graph, salt the frontier join key
    instead (the skew is the same every round, so a static salt does
    what adaptive splitting would, without the planning tax).

    With AQE off, every per-round shuffle materializes at the raw
    ``spark.sql.shuffle.partitions`` (no runtime coalescing) — a stock
    session's 200 means 200 tasks per stage per round regardless of
    frontier size. The loop therefore also clamps shuffle partitions to
    the cluster's core count for its duration: parallelism is still
    full, but per-round task-scheduling overhead stops scaling with a
    conf that was tuned for one-shot queries.

    Clamp it BEFORE a loop's caches are registered: cached plans
    compile their exchanges with the conf in force at persist() time
    and are exempt from AQE coalescing, so on a stock 200-partition
    session the pre-loop caches would otherwise materialize through
    200-task stages in round 1.

    ``no_broadcast=True`` additionally disables implicit broadcast
    joins (autoBroadcastJoinThreshold=-1) for the loop's duration —
    for loops whose joins are all co-partitioned by construction, a
    size-estimate-triggered broadcast REPLACES an in-job, exchange-free
    sort-merge join with a per-round driver-blocking broadcast-collect
    job (and at cluster scale would try to collect a frontier).
    Explicit ``F.broadcast(...)`` hints are unaffected by the
    threshold, so loops that deliberately broadcast keep working.
    Measured on sssp, then by min-of-3 alternating A/B at sf0.1 on wcc,
    kcore, ktruss, mis, pagerank and hits (17-28 % per loop), which all
    run with it.

    RemoveRedundantAliases is off in the scope too. A ``hold`` leaf
    states its partitioning in the attributes of the physical plan but
    takes its output attributes from the analyzed plan; when the rule
    drops a no-op alias over an aggregate's output
    (``col("src").cast("long").alias("src")`` on a column that already
    is a long) the two differ and the leaf's partitioning is lost —
    graph_diameter_estimate's sssp then re-shuffled its edges every
    round (tests/test_fixpoint.py).

    The conf flips are session-visible for the loop's duration; queries
    are executed sequentially by every harness this engine targets.
    """
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    prev_bcast = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760"
    )
    prev_rules = spark.conf.get(_EXCLUDED_RULES, "")
    n = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(
        _EXCLUDED_RULES, ",".join(filter(None, [prev_rules, _REMOVE_ALIASES]))
    )
    try:
        clamp = min(int(prev_parts), parts if parts else max(n, 4))
    except ValueError:
        # Some deployments set a non-numeric value (e.g. "auto"); skip
        # the clamp rather than crash before the loop starts.
        clamp = parts
    if clamp is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(clamp))
    if no_broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(_EXCLUDED_RULES, prev_rules)
        if no_broadcast:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", prev_bcast
            )


def _local(spark: SparkSession) -> bool:
    return spark.sparkContext.master.startswith("local")


def _checkpoint(df: DataFrame) -> DataFrame:
    """Reliable checkpoint, setting up the checkpoint dir on first use.
    On a cluster SPARK_GRAFT_CKPT_DIR must point at shared storage
    (HDFS/S3) that executors can write; the tempdir fallback is correct
    only where driver and executors share a filesystem."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CKPT_DIR")
            or tempfile.mkdtemp(prefix="spark-graft-ckpt-")
        )
    return df.checkpoint()


def hold(df: DataFrame) -> DataFrame:
    """Lazy materialization inside a ``static_rounds`` scope (a loop's
    state, its inputs, a per-round side table): never checkpointed, the
    next action fills it. Local master: ``localCheckpoint(eager=False)``
    — the plan becomes a flat LogicalRDD at once (partitioning AND
    ordering preserved, see ``static_rounds``) and blocks are
    MEMORY_AND_DISK like a persist. Cluster: a plain persist."""
    if _local(df.sparkSession):
        return df.localCheckpoint(eager=False)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def keep(df: DataFrame) -> DataFrame:
    """``hold`` for a frame built outside a loop: a subtree read by
    several plan branches (self-join sides, a union's legs, a loop's
    input) or a chain the caller's action should find materialized.

    Registered inside ``static_rounds``, for two reasons. The frame
    compiles its exchanges with the conf in force at registration and
    AQE cannot coalesce them afterwards, so on a stock 200-partition
    session every stage of the subtree would launch 200 tasks
    (tests/test_cache_clamp.py). And with AQE on, a lazy
    ``localCheckpoint`` runs the subtree's shuffle stages at call time;
    with AQE off it starts no job, and the first consumer fills it
    (tests/test_fixpoint.py). The clamp is ``defaultParallelism``, not
    input-byte-sized: the kept subtrees are compute-bound and want every
    core (byte-sizing measured 5x slower on embedding_neardup at sf0.1).

    Keep only subtrees whose branches exchange reuse cannot share
    (self-join legs: measured 3-5x recompute without it); where the
    branches are distinct aggregates or joins, AQE exchange reuse
    already shares the work and materializing measured ~2x slower at
    sf0.1. As leaves, kept frames never take part in cache
    substitution: a frame needed twice is passed down, not rebuilt."""
    with static_rounds(df.sparkSession):
        return hold(df)


def cut(df: DataFrame) -> DataFrame:
    """The one eager lineage cut — for intra-loop intermediates and the
    cross-query shared states (runstate.shared_state: the converged
    DAG, SCC and landmark states, the co-occurrence edges, the BPE
    vocab), whose frames must be materialized (a consumer after
    spark.catalog.clearCache() must not replay the fixpoint) with a
    flat plan. Local master: an eager localCheckpoint —
    one materialization into block storage while the parent caches are
    still warm, no write-twice, and RDD blocks survive clearCache like
    checkpoint files. Cluster: a reliable checkpoint, so the frame
    survives executor loss."""
    if _local(df.sparkSession):
        return df.localCheckpoint(eager=True)
    return _checkpoint(df)


class RoundState:
    """Per-round state materialization with deployment-adaptive lineage
    truncation.

    The problem it solves: a BSP loop's round-N DataFrame references the
    round-(N-1) state TWICE (once as the frontier/message source, once
    as the join's state side), so the un-truncated logical plan doubles
    every round. Caching does not truncate logical plans, and cache
    substitution does not reliably stop the physical recompilation of
    the nested copies — measured as per-round action time growing
    0.5s -> 4s between reliable checkpoints (stage count doubling per
    round) while the data stayed constant.

    Local master: every round is ``hold``'s lazy localCheckpoint, and
    the round's action materializes it as the round's single job.
    Reliable checkpoints are skipped outright: in one local JVM the
    executors die with the driver, so a reliable checkpoint to a local
    tempdir adds recovery for exactly nothing — a mechanism choice with
    identical guarantees per deployment, not a bench tune. Old rounds'
    blocks are dropped by the ContextCleaner as the loop rebinds its
    state (they are node-table-sized).

    Cluster (any non-local master): persist per round, a reliable
    checkpoint every ``every`` rounds, explicit unpersist of
    the parent — because there localCheckpoint would trade away
    executor-loss recovery, which IS worth per-round driver overhead at
    100 TB.
    """

    def __init__(self, spark: SparkSession, every: int):
        self.local = _local(spark)
        self.every = max(int(every), 1)
        self._held: DataFrame | None = None

    def advance(
        self, df: DataFrame, rnd: int, parent: DataFrame | None = None
    ) -> DataFrame:
        """Register round ``rnd``'s state for materialization and retire
        ``parent``, the state it was built from. Call BEFORE the round's
        action and ``release()`` AFTER it.

        The parent drops at once on a cluster cadence round — the eager
        reliable checkpoint has already filled the child. Otherwise it
        is held until ``release()``: unpersisting it before the child's
        fill forces the fill to replay lineage back to the last
        checkpoint (measured ~2x on mis's loop)."""
        self._held = parent
        cached = hold(df)
        if self.local or rnd % self.every:
            return cached
        # checkpoint() materializes from the cache, then the cached
        # pre-checkpoint copy is dropped so it cannot leak rounds.
        # Dataset.checkpoint preserves outputPartitioning and
        # outputOrdering into the LogicalRDD, so a loop's layout
        # invariants survive truncation.
        out = _checkpoint(cached)
        cached.unpersist()
        self.release()
        return out

    def release(self) -> None:
        """Drop the parent ``advance()`` held, once the round's action
        has filled the child. For localCheckpoint-backed states this is
        a catalog no-op (their blocks are ContextCleaner-managed); for
        persisted ones it is the explicit unpersist."""
        if self._held is not None:
            self._held.unpersist()
            self._held = None


def converge(
    name: str,
    state: DataFrame,
    step,
    test=None,
    *,
    every: int,
    max_rounds: int,
    test_first: bool = False,
) -> DataFrame:
    """Run a fixpoint loop from ``state`` (already ``hold``-ed) and
    return its last state.

    Each round builds ``step(state, n)`` — ``n`` is the latest test
    count — and registers it through ``RoundState.advance``. ONE
    ``count()`` of ``test(child)`` then both decides convergence AND
    materializes the round (the reference's Hadoop counter,
    SingleSourceSP.java:273-281,473-481); the parent is released and
    the loop stops at 0. Letting rounds chain lazily (checking every K
    rounds) was measured to save nothing at K=2 and to blow up driver
    memory at K=3 — broadcast planning over the unmaterialized
    multi-round lineage loses its size bounds.

    ``test=None`` runs a fixed ``max_rounds`` (power iterations): the
    count is of the child itself and only materializes the round (an
    empty state, its own fixed point, still ends the loop).
    ``test_first=True`` also counts ``test(state)`` before round 1, for
    loops whose step consumes the count of the state it builds from
    (kcore's and ktruss's peel). ``every`` is the reliable-checkpoint
    cadence on a cluster. Running out of ``max_rounds`` with a non-zero
    count emits one ``RuntimeWarning`` naming the loop.
    """
    rounds = RoundState(state.sparkSession, every)
    n = test(state).count() if test_first else None
    for rnd in range(1, max_rounds + 1):
        if n == 0:
            return state
        child = rounds.advance(step(state, n), rnd, parent=state)
        n = (child if test is None else test(child)).count()
        rounds.release()
        state = child
    if test is not None and n != 0:
        warnings.warn(
            f"{name}: max_rounds={max_rounds} exhausted with {n} rows still "
            "changing; the result may not be converged",
            RuntimeWarning,
            stacklevel=3,
        )
    return state
