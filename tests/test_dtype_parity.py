"""Registry-wide dtype-parity audit: every oracle-backed query's Spark
result schema must canonically match its DuckDB oracle's Arrow schema.

The external driver's value-hash is dtype-sensitive, so equal values
with drifting dtypes (DuckDB SUM widening BIGINT -> HUGEINT, DECIMAL vs
DOUBLE) fail the driver even though fetched Python values compare equal
— the round-4 BPE false negative.  This audit catches that class
locally, for every current and future oracle, at sf0.001 so the whole
sweep stays cheap. The same sweep pins that no registry query leaves a
cached frame behind.
"""

from __future__ import annotations

import gc
import time

import duckdb
import pytest

from mapreduce_sssp_spark import queries_registry as qr
from mapreduce_sssp_spark.dtype_parity import dtype_drift
from mapreduce_sssp_spark.io.sources import TABLES
from mapreduce_sssp_spark.runstate import clear_shared_state

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


def _cached_rdds(spark) -> set[int]:
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.numCachedPartitions() > 0
    }


def _left_after_gc(spark, before: set[int], wait: float = 20.0) -> set[int]:
    """RDDs holding blocks that were not there at ``before`` and that a
    JVM GC does not free. Leaf blocks are dropped by the ContextCleaner,
    which runs after the GC, so poll for a while."""
    deadline = time.monotonic() + wait
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = _cached_rdds(spark) - before
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.5)


def test_all_oracles_dtype_parity(spark, duck):
    """One sweep, all drifts reported together (not -x-style first-only)
    so a new oracle author sees every offending column at once.

    The same sweep builds the rows-only queries too and asserts that no
    query leaves an entry in the CacheManager: every materialization is
    a fixpoint.keep/hold/cut leaf, and an entry is registered when the
    frame is built, so no action is needed to see a leak. Once every
    result and the shared states are dropped, a JVM GC must free every
    block the sweep's eager materializations stored: nothing in the
    package holds a leaf after its query is gone."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = _cached_rdds(spark)
    failures, leaks = [], []
    for name, build in qr.QUERIES.items():
        sdf = build(spark, SF_SMOKE)
        if not cache.isEmpty():
            leaks.append(name)
            spark.catalog.clearCache()  # isolate the next query
        sql = qr.ORACLE.get(name)
        if sql is None:
            continue
        # LIMIT 0 keeps the fetch schema-only where DuckDB can
        # short-circuit; types are decided at plan time so the Arrow
        # schema is identical to a full run's.
        tbl = duck.execute(
            f"SELECT * FROM ({sql}) LIMIT 0"
        ).fetch_arrow_table()
        drifts = dtype_drift(sdf.schema, tbl.schema)
        if drifts:
            failures.append(f"{name}: " + "; ".join(drifts))
    assert not failures, "dtype drift (spark vs duckdb oracle):\n" + "\n".join(
        failures
    )
    assert not leaks, f"{len(leaks)} queries left a cached frame: {leaks}"
    sdf = None
    clear_shared_state()
    left = _left_after_gc(spark, before)
    assert not left, f"RDD blocks still held after the sweep: {sorted(left)}"
