"""Sinks: partitioned-parquet writer with read-back verification.

The reference's only sink is newline text (SingleSourceSP.java:150-161
formatting; covered by the compat_* queries). A Spark engine's working
sink at 100 TB is partitioned parquet: ``partitionBy`` on a
low-cardinality column so downstream readers get partition pruning,
``maxRecordsPerFile`` bounding file sizes so a skewed partition can't
produce one monster file.

``sink_partitioned_roundtrip`` exercises the full write→read cycle:
write orders partitioned by status to a scratch dir, read it back (the
status column is now a partition directory, pruned at the scan), and
aggregate. The oracle aggregates the source table directly — so the
hash check proves the sink lost/duplicated nothing, including the
partition-column round trip.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.fixpoint import keep
from .sources import load_table
from ..contracts import finite

DEC = "decimal(18,2)"


def write_partitioned(
    df: DataFrame, path: str, partition_col: str, max_records_per_file: int = 1_000_000
) -> None:
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(path)
    )


def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(
        tempfile.gettempdir(),
        "spark-graft-sink-" + sf_dir.strip("/").replace("/", "_"),
        "orders_by_status",
    )
    write_partitioned(orders, path, "o_orderstatus")
    # Explicit schema (partition column included — Spark fills it from
    # the directory names): an empty source writes zero part files,
    # which leaves nothing to infer from.
    back = spark.read.schema(orders.schema).parquet(path)
    # The sink itself stays byte-lossless (NaN/Inf rows are written and
    # read back); only the VERIFICATION aggregate rails non-finite
    # measures (r12 contract — the DECIMAL checksum cast crashes on
    # them). Twin mirrors.
    return (
        back.filter(finite("o_totalprice")).groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def _scratch(sf_dir: str, leaf: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        "spark-graft-sink-" + sf_dir.strip("/").replace("/", "_"),
        leaf,
    )


def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header CSV write -> schema-on-read back. Returns the full
    read-back row set, so the hash check proves the text round trip is
    lossless — including doubles, which survive because Spark writes
    shortest-round-trip representations and parses them back exactly.
    The read uses an EXPLICIT schema (never inferSchema: a second pass
    over the data at 100 TB, and type drift on edge values)."""
    cust = load_table(spark, sf_dir, "customer")
    path = _scratch(sf_dir, "customer_csv")
    cust.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(cust.schema).option("header", True).csv(path)


def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write -> schema-on-read back (explicit schema, same
    rationale as CSV). part covers int/long/string/double fields."""
    part = load_table(spark, sf_dir, "part")
    path = _scratch(sf_dir, "part_json")
    part.write.mode("overwrite").json(path)
    return spark.read.schema(part.schema).json(path)


def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> read back. Second columnar format (zlib-compressed,
    predicate-pushdown-capable like parquet) — the interop sink for
    Hive-era warehouses. Binary columnar storage, so the round trip is
    trivially lossless; the hash check proves no row was dropped or
    duplicated by the write/read pair."""
    supp = load_table(spark, sf_dir, "supplier")
    path = _scratch(sf_dir, "supplier_orc")
    supp.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = BUCKETS
) -> None:
    """Bucketed managed-table write: pre-shuffles the data into
    ``buckets`` files by hash of ``key`` (and sorts within each bucket),
    so every FUTURE join or aggregation on ``key`` between tables with
    matching bucket counts runs with NO exchange — the shuffle is paid
    once at write time and amortized over every downstream query. This
    is the 100 TB answer to a fact table joined on the same key daily.
    """
    spark = df.sparkSession
    # A fresh session's in-memory catalog does not know tables a prior
    # session left in the warehouse dir, so mode("overwrite") cannot
    # reclaim the location — drop the catalog entry AND any orphaned
    # directory first to stay idempotent across sessions.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    # Orphan-directory cleanup only applies to a LOCAL warehouse: with a
    # remote URI (hdfs:/, s3a:/) or a file://host authority form,
    # stripping the scheme would produce a bogus local path and silently
    # no-op — rely on the DROP TABLE above there instead. Local spellings
    # are a plain path, file:/abs, or file:///abs (empty authority).
    local = re.fullmatch(r"(?:file:(?!//)|file://(?=/))?(?P<p>[^:]*)", wh)
    if local:
        loc = os.path.join(local.group("p"), table)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    (
        # Pre-partition on the bucket key with the bucket count so each
        # write task holds exactly one bucket's rows: one file per
        # bucket instead of (tasks x buckets) fragments. repartition and
        # bucketBy share the same Murmur3 column hash, so the layouts
        # align.
        df.repartition(buckets, key)
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def q_sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders and customer bucketed on the join key, then join the
    two bucketed tables and aggregate per market segment.

    The read-side join of the two bucketed tables is exchange-free
    (bucket layouts align; asserted in tests/test_plans.py with
    broadcast disabled), and the hash check against a plain-join oracle
    proves the bucketed write/read pair lost nothing.
    """
    write_bucketed(
        load_table(spark, sf_dir, "orders"), "bkt_orders", "o_custkey"
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer"), "bkt_customer", "c_custkey"
    )
    o = spark.table("bkt_orders")
    c = spark.table("bkt_customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"])
    # Verification-aggregate finite rail (see q_sink_roundtrip).
    return joined.filter(finite("o_totalprice")).groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


N_CORRUPT = 3


def q_csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode malformed-row handling: a CSV with known-bad
    lines injected must load every good row AND surface every bad one
    in ``_corrupt_record`` — never silently drop either. At 100 TB
    "2 of a billion rows were garbage" must be an observable count, not
    a job failure (FAILFAST) or a silent hole (DROPMALFORMED).

    Returns one row: (n_good, n_corrupt). The oracle counts the same
    from the source table + the injected constant.
    """
    cust = load_table(spark, sf_dir, "customer")
    path = _scratch(sf_dir, "customer_malformed_csv")
    cust.write.mode("overwrite").csv(path)
    bad = spark.range(N_CORRUPT).select(
        F.lit("not,an,int,row,at,all,extra,cols").alias("value")
    )
    bad_path = _scratch(sf_dir, "customer_malformed_csv_bad")
    bad.write.mode("overwrite").text(bad_path)

    import shutil as _sh

    for f in os.listdir(bad_path):
        if f.startswith("part-"):
            _sh.copy(
                os.path.join(bad_path, f), os.path.join(path, "zz-" + f + ".csv")
            )

    schema_ddl = (
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string, _corrupt_record string"
    )
    back = (
        spark.read.schema(schema_ddl)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # A corrupt-record count requires materializing the parse (Spark
    # refuses to filter on the corrupt column of a lazy CSV relation).
    back = keep(back)
    return back.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).alias(
            "n_good"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
    )


def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: an old batch written without a column
    and a new batch written with it, read together under
    ``mergeSchema=true`` — the lake-ingestion reality where producers
    add fields over time. Old rows surface NULL for the new column; the
    aggregate proves both the union of schemas and the null semantics.

    At 100 TB, mergeSchema's footer-union pass is why evolved tables
    should record their schema in a catalog instead (the read itself is
    then a plain scan); the QUERY semantics — old rows null-extended —
    are identical either way.
    """
    supp = load_table(spark, sf_dir, "supplier")
    path = _scratch(sf_dir, "supplier_evolved")
    old = supp.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    new = supp.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=0"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("s_acctbal").isNull(), 1).otherwise(0)).alias(
            "n_null_acctbal"
        ),
        F.sum(F.coalesce(F.col("s_acctbal").cast(DEC), F.lit(0).cast(DEC)))
        .cast("double")
        .alias("sum_acctbal_new"),
    )


def q_sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance job every
    streaming/CDC ingest eventually needs (a 100 TB table fed by
    per-trigger appends accumulates millions of KB-sized files whose
    open/footer cost dominates scans): deliberately fragment lineitem
    into 64 shards, compact with ``coalesce`` to a byte-targeted file
    count, and verify the rewrite byte-losslessly via the aggregate
    hash against the SOURCE table.

    ``coalesce`` (merge partitions in place), NOT ``repartition``:
    compaction is an IO rewrite and must not pay a shuffle — the plan
    has no Exchange. The target count is ceil(input_bytes / 32 MiB)
    clamped to >= 1, the same arithmetic a table service (OPTIMIZE /
    rewrite_data_files) applies. In-query asserts pin that the file
    count really shrank.
    """
    frag = _scratch(sf_dir, "lineitem_fragmented")
    compact = _scratch(sf_dir, "lineitem_compacted")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(frag)

    def parquet_files(path):
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]

    before = parquet_files(frag)
    total_bytes = sum(os.path.getsize(f) for f in before)
    target = max(1, -(-total_bytes // (32 * 1024 * 1024)))  # ceil div
    spark.read.parquet(frag).coalesce(int(target)).write.mode(
        "overwrite"
    ).parquet(compact)
    after = parquet_files(compact)
    # The shrink pin is the point of the demo on any real data; a
    # degenerate (empty) input fragments to <= 1 data file and cannot
    # shrink further — vacuous, not a failure.
    assert len(before) > len(after) or len(before) <= 1, (
        len(before),
        len(after),
    )
    back = spark.read.parquet(compact)
    # Verification-aggregate finite rail (see q_sink_roundtrip).
    return back.filter(finite("l_extendedprice")).groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias(
            "total_price"
        ),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


def q_sink_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered (range-partitioned + sorted) table write — the layout
    maintenance that makes parquet min/max statistics actually PRUNE:
    ``repartitionByRange`` on the cluster key gives each output file a
    disjoint key range, ``sortWithinPartitions`` orders rows inside, so
    a date-predicate scan skips every file whose range misses (zone-map
    / Z-order-lite, the single biggest scan saver on time-filtered
    100 TB facts).

    The clustering property is ASSERTED in-query: per-file [min, max]
    date ranges, read back via input_file_name(), must be pairwise
    non-overlapping (range-partitioner sampling may place boundaries
    differently run to run — the disjointness contract holds
    regardless, and content is what the hash verifies against the
    source table).
    """
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "orders_clustered")
    (
        orders.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()
    )  # bounded: one row per output file (4 here)
    spans = sorted((r.lo, r.hi) for r in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, (
            f"file ranges overlap ({hi_prev} > {lo_next}) — clustering lost"
        )
    return back.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )


QUERIES = {
    "csv_malformed_handling": q_csv_malformed_handling,
    "sink_compaction_roundtrip": q_sink_compaction_roundtrip,
    "sink_clustered_write": q_sink_clustered_write,
    "schema_evolution_merge": q_schema_evolution_merge,
    "sink_partitioned_roundtrip": q_sink_roundtrip,
    "sink_csv_roundtrip": q_sink_csv_roundtrip,
    "sink_json_roundtrip": q_sink_json_roundtrip,
    "sink_orc_roundtrip": q_sink_orc_roundtrip,
    "sink_bucketed_join": q_sink_bucketed_join,
}

ORACLE = {
    "schema_evolution_merge": """
SELECT s_nationkey,
       count(*) AS n,
       CAST(SUM(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_acctbal,
       CAST(SUM(CASE WHEN s_suppkey % 2 = 1
                     THEN CAST(s_acctbal AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         AS sum_acctbal_new
FROM supplier GROUP BY s_nationkey
""",
    "csv_malformed_handling": f"""
SELECT CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_good,
       CAST({N_CORRUPT} AS BIGINT) AS n_corrupt
""",
    "sink_partitioned_roundtrip": """
SELECT o_orderstatus,
       count(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
WHERE isfinite(o_totalprice)
GROUP BY o_orderstatus
""",
    "sink_clustered_write": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
""",
    "sink_compaction_roundtrip": """
SELECT l_returnflag,
       count(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       min(l_orderkey) AS min_key,
       max(l_orderkey) AS max_key
FROM lineitem
WHERE isfinite(l_extendedprice)
GROUP BY l_returnflag
""",
    "sink_csv_roundtrip": """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
""",
    "sink_json_roundtrip": """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part
""",
    "sink_orc_roundtrip": """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
""",
    "sink_bucketed_join": """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE isfinite(o_totalprice)
GROUP BY c_mktsegment
""",
}
