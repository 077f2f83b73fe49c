"""Sources: driver-generated parquet tables + the reference's two text
edge-list input contracts.

Reference input contracts re-expressed Spark-first:

* weighted edge list ``edgeId fromNode toNode distance`` space-separated
  (SingleSourceSP.java:60-66 — edgeId parsed then discarded),
* unweighted tab-separated edge list with ``#``-comment tolerance
  (ReverseGraph.java:110-128 — lines not starting with a digit skipped).

Both become typed DataFrames at the scan; Catalyst then pushes filters and
prunes columns into the file scan for free.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..contracts import finite
from ..runstate import RunCache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("edge_id", T.LongType()),
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
        T.StructField("weight", T.DoubleType()),
    ]
)


# Scan-plan memo (r13, VERDICT r12 item 8 — the fixed per-query tail):
# every ``spark.read.parquet`` call pays a driver-side footer/schema
# inference (~80 ms measured at sf0.1), and a full bench pass issues
# ~870 of them — pure per-query overhead that scales with query count,
# not data. The memo reuses the lazily-planned DataFrame per
# (application, sf_dir, table, file mtime): NO data or results are
# cached — a DataFrame is an unexecuted scan plan, and every action
# still reads the parquet files (the mtime in the key drops the entry
# if the file is replaced in-place, e.g. by test fixtures). This is
# the same reuse register_tables' temp views already provide to the
# SQL surface, extended to the DataFrame callers. RunCache (not a dict,
# not None-then-rebound): the fingerprint folder skips non-whitelisted
# types, so runtime state never leaks into semantic fingerprints
# (runstate.py has the full story — a None initial value folded as
# None and flipped the fingerprints once the memo populated mid-suite).
_SCAN_MEMO = RunCache(cap=64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    try:
        mtime = os.stat(f"{sf_dir}/{name}.parquet").st_mtime_ns
    except OSError:
        # Non-local (or missing) path: no mtime can vouch for a memoized
        # plan, so read without memoizing.
        return _read_table(spark, sf_dir, name)
    key = (spark.sparkContext.applicationId, sf_dir, name, mtime)
    df = _SCAN_MEMO.get(key)
    if df is None:
        df = _read_table(spark, sf_dir, name)
        _SCAN_MEMO.put(key, df)
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_parallel(
    spark: SparkSession, sf_dir: str, name: str, by: str | None = None
) -> DataFrame:
    """Load a table and spread it across the cluster's cores.

    The small single-file test tables arrive as ONE input partition
    (file size < spark.sql.files.maxPartitionBytes), which would run
    every downstream expression pipeline on a single core. One cheap
    round-robin (or hash, when ``by`` is given) repartition buys full
    parallelism for compute-heavy per-row work (shingling, hashing,
    vector math).

    r12: the round-robin spread is SKIPPED when the scan already
    splits into at least a cluster's worth of tasks — at 100 TB the
    repartition was a full-table shuffle that bought nothing (the scan
    is thousands of splits), so the no-op case now costs zero instead
    of one pass over the table. The ``by`` form still repartitions
    unconditionally: callers ask for that KEYED layout, not just for
    parallelism.
    """
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if by:
        return df.repartition(n, by)
    try:
        files = [
            f.removeprefix("file:")
            for f in df.inputFiles()
            if f.startswith("file:")
        ]
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            .lower().removesuffix("b").removesuffix("m") or 134217728
        )
        # conf may carry a unit suffix ("128m"); normalize to bytes.
        if max_split < 1 << 20:
            max_split <<= 20
        total = sum(os.path.getsize(f) for f in files)
        est_splits = max(len(files), total // max_split)
        if est_splits >= n:
            return df
    except Exception:  # noqa: BLE001 — sizing heuristic, never fatal
        pass
    return df.repartition(n)


def normalize_event_ts(df: DataFrame, as_ntz: bool = True) -> DataFrame:
    """Normalize the ``ts`` column of an events scan to a timestamp,
    branching on the dtype the scan actually produced (works for both
    batch and stream DataFrames — the schema is static either way):

    * ``timestamp_ntz`` / ``timestamp`` — the parquet stores a real
      timestamp type (the driver testdata is ``timestamp[us]``); only a
      (lossless, UTC-session) cast is needed.
    * ``bigint`` — the file stores TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to micros
      with integer DIV (a double division would lose ULPs at 1.7e18 and
      shift events across window boundaries), matching DuckDB's ns->us
      cast.

    ``as_ntz=True`` yields TIMESTAMP_NTZ (wall-clock, session-TZ
    independent — the batch/oracle shape); ``as_ntz=False`` yields
    TIMESTAMP (required by streaming watermarks). The session TZ is
    pinned to UTC (session.py), so the two are the same instant.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("timestamp_ntz", "timestamp"):
        col = F.col("ts")
    elif dtype == "bigint":
        col = F.expr(
            "timestampadd(MICROSECOND, ts DIV 1000,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    else:
        raise TypeError(f"events.ts has unsupported dtype {dtype!r}")
    target = "timestamp_ntz" if as_ntz else "timestamp"
    return df.withColumn("ts", col.cast(target))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet with ``ts`` normalized to TIMESTAMP_NTZ
    regardless of the file's physical encoding (timestamp[us] in the
    driver testdata; TIMESTAMP(NANOS)-as-long tolerated for legacy
    files — see normalize_event_ts)."""
    # Harmless when the file stores a real timestamp type; required to
    # even scan TIMESTAMP(NANOS) files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_event_ts(ev, as_ntz=True)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for the SQL API).

    Per-table isolation: one table failing to load must not take down
    SQL queries that never reference it. But a FAILED load must also not
    leave a view from an earlier register_tables (possibly a different
    sf_dir) in place — that would silently serve wrong-scale data. So on
    failure the stale view is dropped: queries touching the broken table
    fail loudly at name resolution, everything else keeps working.
    """
    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 — deferred, not swallowed
            spark.catalog.dropTempView(name)  # no-op if absent
            warnings.warn(
                f"register_tables: skipped {name!r} from {sf_dir}: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )


def edges_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURES.md B1: deterministic weighted digraph from lineitem.

    ``src=l_suppkey, dst=l_partkey, weight=l_quantity``. Node ids 0-99
    (suppliers) overlap the partkey space, so the graph is multi-hop with
    cycles in the 0-99 core. Weights strictly positive. Duplicate (src,dst)
    pairs are present and must be tolerated (min-relaxation makes them
    benign — SingleSourceSP.java:224-250).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # B1 contract (r11 weight, r12 endpoints + finite weight): a NULL
    # in ANY of src/dst/weight — or a non-finite weight — is a
    # malformed edge and is DROPPED at the source —
    # the engine analogue of the reference's Character.isDigit line
    # guard (a text line with a missing token never parses as an edge).
    # r11 found concat_ws silently skipping a NULL weight in the
    # dst:weight grammar; the r12 NULL-node-id sweep found NULL
    # endpoints corrupting adjacency/compat lines, shifting pagerank's
    # node count N, and crashing the TSV roundtrip read-back. The r12
    # non-finite probe added the finite-weight leg: a NaN weight
    # REACHES the dst:weight text grammar and renders 'NaN' in Spark
    # but 'nan' in DuckDB's float formatting — byte-divergent compat
    # lines — and Inf additions poison every distance downstream.
    # EDGES_SQL and every raw-lineitem graph twin carry the same WHERE.
    return li.filter(
        F.col("l_suppkey").isNotNull()
        & F.col("l_partkey").isNotNull()
        & finite("l_quantity")
    ).select(
        F.col("l_suppkey").alias("src"),
        F.col("l_partkey").alias("dst"),
        F.col("l_quantity").alias("weight"),
    )


def edges_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A layered DAG derived from lineitem, for oracle-checkable SSSP.

    Lineitems are first deduplicated per (orderkey, linenumber) — the data
    contains duplicate linenumbers, which would otherwise create same-level
    edges and therefore cycles — taking min(partkey)/min(quantity) so the
    derivation is deterministic in both engines. Node = (partkey,
    linenumber) encoded as ``pk * 8 + l_linenumber``; within each order,
    consecutive (now unique) linenumbers define an edge. Linenumber
    strictly increases along every edge, so the graph is acyclic with
    depth <= 6 — a bounded recursive CTE (DuckDB) terminates, making the
    full SSSP fixpoint hash-checkable against an ANSI-SQL oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # DAG contract (r12): all four read columns non-null. A NULL
    # l_linenumber is a malformed chain position AND an ordering trap
    # (Spark windows sort NULLS FIRST, DuckDB NULLS LAST — the lead()
    # chains would differ row-for-row); NULL orderkey/partkey/quantity
    # are malformed node/weight material. EDGES_DAG_SQL mirrors.
    step = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_partkey").isNotNull()
        & finite("l_quantity")
    ).groupBy("l_orderkey", "l_linenumber").agg(
        F.min("l_partkey").alias("pk"), F.min("l_quantity").alias("qty")
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    chain = step.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("pk") * 8 + F.col("l_linenumber")).alias("node"),
        "qty",
    ).withColumn("next_node", F.lead("node").over(w))
    return chain.filter(F.col("next_node").isNotNull()).select(
        F.col("node").alias("src"),
        F.col("next_node").alias("dst"),
        F.col("qty").alias("weight"),
    )


# SQL twin of edges_from_lineitem, reused inside oracle queries.
# EDGES_WHERE is the B1 edge contract (endpoints non-null + finite
# weight), f-stringed into the raw-lineitem graph twins that can't
# compose EDGES_SQL directly (unweighted incidence views, custom
# weight preds). isfinite(NULL) is NULL -> dropped, so the non-null
# weight leg is implied.
EDGES_WHERE = (
    "l_suppkey IS NOT NULL AND l_partkey IS NOT NULL"
    " AND isfinite(l_quantity)"
)
EDGES_SQL = (
    "SELECT l_suppkey AS src, l_partkey AS dst, l_quantity AS weight"
    f" FROM lineitem WHERE {EDGES_WHERE}"
)

# SQL twin of edges_order_chain.
EDGES_DAG_SQL = """
SELECT node AS src, next_node AS dst, qty AS weight
FROM (
  SELECT pk * 8 + l_linenumber AS node,
         lead(pk * 8 + l_linenumber)
           OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS next_node,
         qty
  FROM (
    SELECT l_orderkey, l_linenumber,
           min(l_partkey) AS pk, min(l_quantity) AS qty
    FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      AND l_partkey IS NOT NULL AND isfinite(l_quantity)
    GROUP BY l_orderkey, l_linenumber
  )
)
WHERE next_node IS NOT NULL
"""


def read_edge_list_text(spark: SparkSession, path: str) -> DataFrame:
    """Reference weighted-edge-list text scan (SingleSourceSP.java:60-66).

    Four space-separated columns ``edgeId fromNode toNode distance``; the
    edge id is projected away immediately (column pruning reaches the scan).
    """
    raw = spark.read.csv(path, sep=" ", schema=EDGE_SCHEMA)
    return raw.select("src", "dst", "weight")


def read_tsv_edge_list(spark: SparkSession, path: str) -> DataFrame:
    """Reference unweighted TSV edge-list scan (ReverseGraph.java:110-128).

    Skips SNAP-style comment lines (anything not starting with a digit) —
    expressed as a filter on the raw line so Catalyst can push it down.
    """
    lines = spark.read.text(path)
    parsed = lines.filter(F.col("value").rlike(r"^[0-9]")).select(
        F.split("value", "\t").alias("f")
    )
    return parsed.select(
        F.col("f")[0].cast("long").alias("src"),
        F.col("f")[1].cast("long").alias("dst"),
    )
