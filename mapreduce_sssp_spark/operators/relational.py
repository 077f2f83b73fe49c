"""Relational operator suite (SURVEY.md §7 P2) — the target surface the
reference lacks (SURVEY.md §2.3-2.7 "not present in reference" rows),
expressed as declarative DataFrame plans so Catalyst supplies pushdown,
pruning, join selection and AQE for free.

Cross-engine bit-exactness rules (every oracle is hash-compared):

* Money/quantity sums go through DECIMAL(18,2) (exact arithmetic in both
  engines) and only the final value is cast to DOUBLE — double-sum order
  would otherwise differ between Spark partial aggregation and DuckDB.
* Averages are written explicitly as decimal-sum / count so both engines
  divide identical doubles.
* Window moving sums use the same decimal trick inside the frame.
* Ordering ties are always broken by a unique key (row_number over
  (value, key)) so top-k cuts are deterministic.
* Day-of-week uses Spark ``weekday()+1`` == DuckDB ``isodow`` (Monday=1);
  the engines' native ``dayofweek`` disagree on week start.

Scale notes (100 TB / 1000 executors): every join below is an equi-join
Catalyst can plan as broadcast (nation/region/supplier-sized dims, forced
with ``F.broadcast``) or shuffle-hash/sort-merge with AQE skew splitting;
aggregations are partial (map-side combine) by construction; top-k is
``orderBy().limit()`` which Spark executes as per-partition TakeOrdered +
driver merge of k rows, never a global sort of the full input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..contracts import finite
from ..graph.fixpoint import keep
from ..io.sources import load_parallel, load_table, register_tables

DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(DEC)


# --------------------------------------------------------------------------
# Joins (inner / left / semi / anti, broadcast dim side)
# --------------------------------------------------------------------------


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: orders ⋈ customer ⋈ broadcast(nation).

    nation (25 rows) is explicitly broadcast; customer⋈orders is a shuffle
    equi-join AQE may itself turn into broadcast at small sf.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order stats via left outer join (null-preserving)."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one order above 400k (left-semi join)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = orders.filter(F.col("o_totalprice") > 400000.0)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no 'P'-status order (left-anti join)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    p = orders.filter(F.col("o_orderstatus") == "P")
    return (
        customer.join(p, customer.c_custkey == p.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
    )


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join with unmatched rows on BOTH sides (BUILDING
    customers vs customers holding >450k orders) — null preservation in
    each direction, the join shape the reference's tagged-union merge
    implements for SSSP state (SingleSourceSP.java:205-293)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("a_key")
    )
    b = (
        orders.filter(F.col("o_totalprice") > 450000.0)
        .groupBy(F.col("o_custkey").alias("b_key"))
        .agg(F.count("*").alias("big_orders"))
    )
    return a.join(b, a["a_key"] == b["b_key"], "full_outer").select(
        F.coalesce("a_key", "b_key").alias("custkey"),
        F.col("a_key").isNotNull().alias("in_building"),
        F.coalesce("big_orders", F.lit(0)).cast("long").alias("n_big_orders"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube: an arbitrary
    subset lattice) — (status, priority), (status), and grand total in
    one pass; Catalyst expands then aggregates partially map-side."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucket, percent_rank and
    cume_dist per order-status partition. Tie-broken by the unique
    orderkey so every engine assigns identical bucket boundaries."""
    # Required-column rail (r11 NULL sweep; twin mirrors the WHERE).
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice", "o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# Aggregation (multi-measure, distinct, rollup, cube)
# --------------------------------------------------------------------------


def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (multi-measure hash aggregate)."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite("l_quantity") & finite("l_extendedprice")
        & finite("l_discount") & finite("l_tax")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (supplier, part) pairs shipped — dropDuplicates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_suppkey", "l_partkey").dropDuplicates()


STATUS_LABELS = {"F": "finished", "O": "open", "P": "pending"}


def q_map_literal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiny-dimension decode via a MAP LITERAL (``element_at`` lookup)
    instead of a join: for enums of a handful of values, the lookup is
    a map-side expression — zero shuffle, zero broadcast, and the
    'dimension' ships inside the plan itself."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = [x for kv in STATUS_LABELS.items() for x in kv]
    decode = F.create_map(*[F.lit(x) for x in pairs])
    return (
        orders.select(
            F.coalesce(
                decode[F.col("o_orderstatus")], F.lit("unknown")
            ).alias("status_label")
        )
        .groupBy("status_label")
        .agg(F.count("*").alias("n"))
    )


def q_collect_set_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation: per supplier, the sorted distinct
    return flags it ever shipped, as a CSV (``collect_set`` +
    ``array_sort`` — set semantics make the result order-free and
    hash-checkable; contrast collect_list, whose order is
    partition-dependent)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("l_returnflag")), ","
        ).alias("flags_csv"),
        F.size(F.collect_set("l_returnflag")).alias("n_flags"),
    )


HIST_BIN_WIDTH = 5000.0


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice: the one-pass binned
    aggregation behind every distribution dashboard. Bin id =
    floor(x / width) — a map-side expression, so the whole histogram is
    one partial-aggregating groupBy regardless of data size (contrast
    with percentile, which must sort or sketch)."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite("l_extendedprice")
    )
    return (
        li.select(
            F.floor(F.col("l_extendedprice") / HIST_BIN_WIDTH).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.col("bin") * HIST_BIN_WIDTH).alias("bin_lo"),
            "n",
        )
    )


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the warehouse contract check run
    before anything downstream trusts a load: one row per declared
    constraint with its violation count and the rows checked.
    Constraints exercised here: PK uniqueness (orders, lineitem
    composite), FK integrity (lineitem->orders, lineitem->part,
    orders->customer), NOT NULL (l_orderkey), and a domain rule
    (l_quantity > 0). Output (constraint, n_checked, n_violations).

    Shapes, per class: uniqueness is a groupBy-count-filter (partial
    agg, shuffle keyed on the PK); FK integrity is a LEFT ANTI join
    against the distinct parent key set as a plain key-keyed shuffle
    join — no forced broadcast, because a parent can be fact-sized
    (orders' key set at 100 TB is ~12 GB; AQE still broadcasts the
    genuinely dim-sized parents at runtime); NOT NULL and domain rules
    are scan-level conditional counts (one pass, zero shuffle, all
    such rules fused into ONE aggregate). At 100 TB each constraint
    stays in its cheapest class instead of a generic rule-engine join;
    the union of 7 one-row frames is driver-trivial.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")

    def one(name, n_checked, n_viol):
        return n_checked.crossJoin(n_viol).select(
            F.lit(name).alias("constraint"),
            F.col("n_checked"),
            F.col("n_violations"),
        )

    def scalar(df, alias):
        return df.agg(F.count("*").alias(alias))

    def dup_pk(df, cols, name):
        dups = (
            df.groupBy(*cols)
            .agg(F.count("*").alias("c"))
            .filter("c > 1")
            .agg(
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias(
                    "n_violations"
                )
            )
        )
        return one(name, scalar(df, "n_checked"), dups)

    def dangling(child, key, parent, pkey, name):
        # Standard FK semantics: a NULL child key is NOT a violation
        # (nullable FKs are legal; nullness is its own constraint) —
        # and the null filter is also what keeps the anti join aligned
        # with the oracle's NOT IN, which silently drops NULLs.
        viol = (
            child.select(F.col(key).alias("k"))
            .filter(F.col(key).isNotNull())
            .join(
                parent.select(F.col(pkey).alias("k")).distinct(),
                "k",
                "anti",
            )
            .agg(F.count("*").alias("n_violations"))
        )
        return one(name, scalar(child, "n_checked"), viol)

    # scan-level rules fused into one aggregate over lineitem
    scan_rules = li.agg(
        F.count("*").alias("n_checked"),
        F.sum(
            F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)
        ).alias("v_null"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
            "v_domain"
        ),
    )
    nulls = scan_rules.select(
        F.lit("lineitem.l_orderkey NOT NULL").alias("constraint"),
        "n_checked",
        F.col("v_null").cast("bigint").alias("n_violations"),
    )
    domain = scan_rules.select(
        F.lit("lineitem.l_quantity > 0").alias("constraint"),
        "n_checked",
        F.col("v_domain").cast("bigint").alias("n_violations"),
    )
    return (
        dup_pk(o, ["o_orderkey"], "orders PK unique")
        .unionByName(
            dup_pk(
                li,
                ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
                "lineitem PK unique",
            )
        )
        .unionByName(dangling(li, "l_orderkey", o, "o_orderkey", "lineitem->orders FK"))
        .unionByName(dangling(li, "l_partkey", part, "p_partkey", "lineitem->part FK"))
        .unionByName(dangling(o, "o_custkey", cust, "c_custkey", "orders->customer FK"))
        .unionByName(nulls)
        .unionByName(domain)
    )


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice — the forensic
    data-quality screen (fabricated or unit-mixed monetary columns
    drift from the log-uniform first-digit law). Output one row per
    digit 1-9: observed count, observed share, and the Benford
    expectation log10(1 + 1/d) as the quantized BIGINT the tfidf
    device prescribes for transcendental values.

    One map-side digit extraction (first char of the DECIMAL's
    canonical string — both engines render DECIMAL(18,2) identically,
    no float formatting anywhere) + one 9-group aggregate: zero
    shuffle beyond 9 partial rows per task at any scale. obs_share is
    a single exact int/int division.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.expr(
        "substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), 1, 1)"
    )
    counts = (
        # >= 1, not > 0: a value in (0,1) has first digit '0', whose
        # Benford term log10(1 + 1/0) is Infinity — Spark's cast clamps
        # to Long.MAX while DuckDB's round(inf)::BIGINT errors, a latent
        # cross-engine divergence even though TPC-H prices never hit it.
        # finite(): the r12 finite-measure contract — NaN >= 1 is TRUE
        # in BOTH engines' float orderings, then the DECIMAL render
        # crashes; twin mirrors.
        o.filter(finite("o_totalprice") & (F.col("o_totalprice") >= 1))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "obs_share"
        ),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("benford_e6"),
    )


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of orders: cheapest-and-most-recent —
    an order is on the front iff no other order is BOTH strictly
    cheaper and strictly more recent. The classic multi-criteria
    shortlist operator (Börzsönyi et al.'s SKYLINE OF), computed
    without any dominance self-join: sort by (price ASC, date DESC)
    and keep a row iff its date strictly exceeds the running max date
    of everything cheaper-or-equal BEFORE it — one window pass.

    The rewrite is also the scale story, in two steps. The naive
    EXISTS-dominance self-join is O(n^2); a running-max window kills
    that but a GLOBAL (un-partitioned) window plans one single-task
    sort — the 100 TB anti-pattern. So the scan is TWO-LEVEL (the
    concurrent_shipments prefix device): value-bucket the price axis
    (strictly-cheaper rows land in strictly-lower buckets), run the
    strict running-max window PARTITIONED by bucket (parallel), and
    carry the cross-bucket prefix max date in from a buckets-sized
    side table — dominance = max(intra-bucket prefix, carried
    prefix). tests/test_plans.py pins that no single-partition window
    remains. Exactness: price rides the int64-cents projection; dates
    are exact; ties (equal price+date duplicates) all survive,
    matching the strict-dominance definition; the oracle keeps the
    readable NOT EXISTS spelling so the hash check proves the
    decomposition equivalent.
    """
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    o = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice") & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "price_cents"
        ),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    return skyline_2d(o, "price_cents", "odate")


def skyline_2d(df: DataFrame, min_col: str, max_col: str, n_buckets: int = 32) -> DataFrame:
    """See q_skyline_orders: rows not strictly dominated on
    (minimize min_col, maximize max_col); two-level bucketed scan."""
    from pyspark.sql import Window

    mx = F.broadcast(df.agg(F.max(min_col).alias("mx")))
    b = df.crossJoin(mx).withColumn(
        "bucket", F.expr(f"{min_col} * {n_buckets} DIV (mx + 1)")
    ).drop("mx")
    bucket_max = b.groupBy("bucket").agg(F.max(max_col).alias("b_max"))
    w_prefix = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carried = bucket_max.select(
        "bucket", F.max("b_max").over(w_prefix).alias("carry_max")
    )
    # Strict dominance intra-bucket: a RANGE frame ending at -1 over
    # integer values is exactly "min_col < mine" (equal keys never
    # dominate each other); cross-bucket rows are strictly smaller by
    # construction of the value bucketing.
    w_local = (
        Window.partitionBy("bucket")
        .orderBy(min_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    front = (
        b.join(F.broadcast(carried), "bucket")
        .withColumn(
            "max_prev",
            F.greatest(F.max(max_col).over(w_local), F.col("carry_max")),
        )
        .filter(
            F.col("max_prev").isNull() | (F.col(max_col) >= F.col("max_prev"))
        )
    )
    return front.drop("bucket", "carry_max", "max_prev")


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders: for every directed
    brand pair (A -> B) co-purchased in at least one order, the exact
    support counts plus confidence n_ab/n_a and lift
    n_ab*N/(n_a*n_b) — the classic recommender/assortment screen
    (Agrawal-Srikant support-confidence framework, computed exactly
    rather than via Apriori pruning: the item vocabulary here is 25
    brands, so the full pair lattice is trivially small).

    Hash-exactness: all counts exact int64; confidence and lift are
    each ONE int/int double division with identical operand sequences
    in both engines (the bigram_lift device — no ln, no float
    accumulation).

    At 100 TB: the brand dim join is a broadcast (dim tables that
    outgrow broadcast go through the bucketed-join path, see
    sink_bucketed_join); basket item sets dedup map-side before the
    within-basket self-join, whose output is bounded by
    sum(basket_size^2) with basket_size <= 7 lineitems — linear in the
    corpus, never all-pairs across baskets. Counts partial-aggregate;
    the scalar basket total rides a broadcast 1-row cross join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li["l_partkey"] == p["p_partkey"],
        )
        .select(
            F.col("l_orderkey").alias("bid"), F.col("p_brand").alias("item")
        )
        .distinct()
    )
    tot = baskets.agg(F.count_distinct("bid").alias("n_baskets"))
    item_n = baskets.groupBy("item").agg(F.count("*").alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, "bid")
        .filter(F.col("a.item") != F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("antecedent"),
            F.col("b.item").alias("consequent"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("antecedent"), F.col("n").alias("n_a")
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("consequent"), F.col("n").alias("n_b")
                )
            ),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_a",
            "n_b",
            "n_baskets",
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


EQUIDEPTH_BINS = 10


def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of l_extendedprice — the
    profiling complement of q_price_histogram's equi-WIDTH bins:
    boundaries adapt to the distribution, so every bin carries ~10% of
    rows and heavy tails can't empty out the view. Output per bin:
    (bin, n, lo, hi).

    Two passes, both scale-safe: (1) ONE array-argument exact
    percentile aggregate computes all 9 interior boundaries (the
    group_percentiles device — buffers once, probes 9 ranks; swap in
    approx_percentile when a 100 TB column outgrows the sort buffer,
    same documented trade as group_percentiles); (2) the broadcast
    1-row boundary array bins every row MAP-SIDE via a
    size(filter(...)) expression, and the count/min/max aggregate is
    partial. Binning is by strict boundary comparison (not ntile), so
    no global sort or single-partition window exists anywhere.

    Exactness (r12 revision): the r8 form compared raw interpolated
    DOUBLES, and the non-finite probe corpus caught the two engines'
    linear interpolations differing in the LAST ULP (Spark's
    lo + (hi-lo)*frac vs DuckDB's ordering: 123.455 vs
    123.45499999999998 at p10), flipping every row that sat exactly on
    the boundary. The percentile now runs on exact int64 CENTS and the
    boundary quantizes to DECI-CENTS: frac is always k/10 here, so the
    true boundary in deci-cents IS an integer; both engines' doubles
    sit within one ulp of it and round() recovers the identical BIGINT
    (the quantize-transcendentals device). Bin compare is then exact
    integer vs integer. Domain: |cents| * 10 < 2^53.
    """
    ps = ", ".join(
        f"{i / EQUIDEPTH_BINS}D" for i in range(1, EQUIDEPTH_BINS)
    )
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    # load_parallel (r12): the decimal-cents cast, the exact-percentile
    # buffering and the binning pass otherwise all run on a single scan
    # task for a one-split input; every aggregate here is exact and
    # order-independent, so the spread changes nothing but parallelism.
    li = load_parallel(spark, sf_dir, "lineitem").filter(
        finite("l_extendedprice")
    ).select(
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("c"),
        F.col("l_extendedprice").alias("x"),
    )
    bounds = li.agg(
        F.expr(
            f"transform(percentile(c, array({ps})),"
            " b -> CAST(round(b * 10) AS BIGINT))"
        ).alias("bs")
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        F.expr("size(filter(bs, b -> c * 10 > b))").alias("bin"),
        "x",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (``percentile``, linear interpolation)
    — the deterministic counterpart of ``approx_quantiles``: both
    engines interpolate identically on doubles, so quartiles hash-match
    bit-for-bit. Exact percentile sorts within each group; use the GK
    sketch twin when a group no longer fits a partition.

    All three quartiles come from ONE array-argument percentile
    aggregate: three scalar percentile aggs would each build and sort
    their own per-group value buffer (3x the memory and sort work in
    the aggregation exec); the array form buffers once and probes
    three ranks.
    """
    # Finite-measure contract (r12 non-finite probe: NaN interpolates
    # as a huge value in DuckDB quantile_cont but Spark percentile
    # NaN-poisons the whole group — silent divergence). Twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite("l_extendedprice")
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))"
            ).alias("ps"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("q1"),
            F.col("ps")[1].alias("median"),
            F.col("ps")[2].alias("q3"),
            "n",
        )
    )


def q_concurrent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval sweep: how many lineitems are open (order placed, line
    not yet shipped) on each calendar day — the concurrency-over-time
    backlog query, and the canonical interval-stabbing problem. The
    interval is [o_orderdate, l_shipdate] per lineitem, real columns
    joined on the order key.

    The 100 TB shape is the two-level prefix sum: each interval emits
    +1 at order day and -1 the day AFTER shipping from ONE pass over
    the join (a map-side 2-element explode, no self-union that would
    re-read the corpus), deltas partial-aggregate onto the |days|
    domain (a few thousand rows at any corpus size), and only that
    tiny domain pays the running-sum window. Sweeping row-level events
    through a global ordered window — the textbook formulation — would
    serialize the corpus through one partition; the day-level
    aggregate is what makes the sweep O(|days|) past the scan+join.

    Exactness: everything is int64 counts and DATE arithmetic; no
    floats exist in the query.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_day")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").cast("date").alias("order_day"),
    )
    deltas = (
        li.join(o, "l_orderkey")
        .select(
            F.explode(
                F.expr(
                    "array(struct(order_day AS day, 1 AS delta),"
                    " struct(date_add(ship_day, 1) AS day, -1 AS delta))"
                )
            ).alias("e")
        )
        .select("e.day", "e.delta")
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("delta").alias("net_delta"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_opened"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy()
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        "day",
        "n_opened",
        "net_delta",
        F.sum("net_delta").over(w).alias("n_open"),
    )


def q_gini_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the event value per event type — the
    inequality/concentration measure of how revenue mass distributes
    across events (0 = uniform, ->1 = one event carries everything).

    Uses the rank formulation G = (2*sum(i*x_(i)) - (n+1)*sum(x)) /
    (n*sum(x)) over the per-type total order (cents, event_id): ranks
    and cents are exact int64, both the numerator and denominator stay
    exact int64 (bounded by n^2 * max_cents << 2^63 even at 10^7-row
    types), and the final value is ONE int/int double division — a
    float-free Gini that hash-matches across engines by construction.

    Scale: one window sort per type (the same shape every per-group
    rank op here pays), then a 5-row aggregate. Skewed types are a
    sort-spill concern, not a correctness one.
    """
    return gini_value(load_table(spark, sf_dir, "events"))


def gini_value(ev: DataFrame) -> DataFrame:
    """See q_gini_value. ev needs (event_type, event_id, value)."""
    from pyspark.sql import Window

    # Required-column rail (r11 NULL sweep; twin mirrors the WHERE):
    # a NULL cents would sit at OPPOSITE ends of the two engines' rank
    # windows (Spark NULLS FIRST asc, DuckDB LAST) and shift every rank.
    # r12: extended to the finite-measure contract (cents cast crash).
    ev = ev.filter(F.col("event_type").isNotNull() & finite("value"))
    base = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    r = base.select(
        "event_type", "cents", F.row_number().over(w).alias("rn")
    )
    return r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        # NULL (not 0/0 -> ANSI crash, not a sign-flipped number) unless
        # the per-type value mass is strictly POSITIVE: Gini is
        # undefined without positive total mass, and a partially-
        # cancelling mix with negative sum would otherwise pass a mere
        # != 0 guard and emit a meaningless sign-flipped value (the
        # SCALE.md degenerate-denominator convention: guard denom > 0).
        F.when(
            F.sum("cents") > 0,
            (
                2 * F.sum(F.col("rn") * F.col("cents"))
                - (F.count("*") + 1) * F.sum("cents")
            ).cast("double")
            / (F.count("*") * F.sum("cents")).cast("double"),
        ).alias("gini"),
    )


#: RFM recency anchor — a fixed literal so the score is reproducible
#: (max(o_orderdate) in the testdata is 2001-08-01; any date at or
#: after the corpus end works and a literal keeps both engines and
#: every re-run on the same number).
RFM_ANCHOR = "2001-12-31"


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: quintile ranks of Recency / Frequency /
    Monetary per customer, combined into the classic 3-digit segment
    code — the warehouse-native customer-value segmentation.

    Quintile BOUNDARIES come from one exact-percentile aggregate over
    the (already tiny) per-customer rollup and broadcast back; the
    scores are then CASE ladders evaluated map-side. That is the scale
    shape: a global ntile(5) — the textbook formulation — would drag
    every customer row through ONE partition's sort, while boundary
    thresholds cost a single-reduce aggregate and the scoring scan
    stays embarrassingly parallel. Monetary is exact int64 cents;
    recency is an exact day diff against a literal anchor; the only
    floats are the five interpolated thresholds, identical in both
    engines (the group_percentiles precedent), and int-vs-double
    comparisons are exact.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    o = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        ).alias("monetary_cents"),
    )
    qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    thr = cust.agg(
        F.expr(f"percentile(recency_days, {qs})").alias("rt"),
        F.expr(f"percentile(frequency, {qs})").alias("ft"),
        F.expr(f"percentile(monetary_cents, {qs})").alias("mt"),
    )

    def ladder(col, t, invert=False):
        up = sum(
            F.when(F.col(col) > F.col(t)[i], 1).otherwise(0)
            for i in range(4)
        )
        return (F.lit(5) - up if invert else F.lit(1) + up).cast("int")

    return cust.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        ladder("recency_days", "rt", invert=True).alias("r_score"),
        ladder("frequency", "ft").alias("f_score"),
        ladder("monetary_cents", "mt").alias("m_score"),
        (
            ladder("recency_days", "rt", invert=True) * 100
            + ladder("frequency", "ft") * 10
            + ladder("monetary_cents", "mt")
        )
        .cast("int")
        .alias("rfm_code"),
    )


def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation
    (MAD) with the Iglewicz-Hoaglin modified z-score (|0.6745 *
    (x - median)| > 3.5 * MAD) — the standard data-quality screen when
    the distribution has heavy tails that wreck mean/stddev z-scores.

    Exact medians need two sequential passes (MAD's inner median depends
    on the outer), so the plan is three pruned 2-column scans: median
    per group, deviation median per group (group medians broadcast),
    outlier count (both broadcast). At 100 TB swap percentile for the
    mergeable GK sketch (see approx_quantiles) to fold passes 1-2 into
    one scan each with no global sort. Hash-stable cross-engine: Spark
    ``percentile`` and DuckDB ``quantile_cont`` interpolate identically
    (the group_percentiles precedent), and the threshold comparison is
    written with the same literal arithmetic shape in both engines so
    boundary doubles agree bit-for-bit.
    """
    # Finite-measure contract (r12 non-finite probe: the two engines'
    # medians disagree once a NaN enters the sort). Twin mirrors.
    # r12: load_parallel + keep — the three sequential median passes
    # each re-scanned the 2-column projection on one task; the kept
    # projection is ~16 bytes/row (the same posture as the graph edge
    # frames, which keep the identical lineitem slice).
    li = keep(
        load_parallel(spark, sf_dir, "lineitem")
        .filter(finite("l_extendedprice"))
        .select("l_returnflag", "l_extendedprice")
    )
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.expr("count_if(0.6745 * adev > 3.5 * mad)").alias("n_outliers"),
        )
    )


def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of event values: clip to the exact
    [p05, p95] band and report clip counts plus the winsorized sum —
    the standard heavy-tail screen when outliers should be bounded,
    not dropped (the complement of ``outliers_mad``, which flags).

    Plan shape: one 2-column percentile aggregate (tiny, broadcast
    back) + one pass over the fact with a map-side clip — the fact
    table shuffles only for the final per-type aggregate. Hash-exact
    by the established devices: Spark ``percentile`` and DuckDB
    ``quantile_cont`` interpolate identically (group_percentiles
    precedent), the clip compares bit-identical doubles, and the sum
    goes through integer cents (regression_trend precedent) so no
    float accumulation order can drift.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    ev = load_table(spark, sf_dir, "events").filter(
        finite("value")
    ).select("event_type", "value")
    pct = (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.05D, 0.95D))").alias("ps"))
        .select(
            "event_type",
            F.col("ps")[0].alias("lo"),
            F.col("ps")[1].alias("hi"),
        )
    )
    j = ev.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    cents = (clipped.cast("decimal(18,2)") * 100).cast("bigint")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clip_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clip_hi"),
            F.sum(cents).alias("cents"),
        )
        .select(
            "event_type",
            "n",
            "n_clip_lo",
            "n_clip_hi",
            (F.col("cents").cast("double") / 100.0).alias("sum_winsorized"),
        )
    )


TREND_EPOCH = "1995-01-01"  # day-index origin (first o_orderdate)


def q_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority least-squares trend of order value over time,
    computed the only way that scales: ONE partial-aggregating pass
    collects the exact sufficient statistics (n, Sx, Sy, Sxy, Sxx) and
    the closed-form slope/intercept are derived from them — no
    iteration, no per-group materialization, mergeable across any
    partitioning (this is how distributed OLS always ships).

    Hash determinism: x is an integer day index and y routes through
    exact integer CENTS (DECIMAL(18,2) * 100 -> BIGINT), so every
    statistic is an exact BIGINT sum. Crucially the stats are cast to
    DOUBLE from *int64*, a conversion both engines correctly round —
    DuckDB's DECIMAL(38,s)->DOUBLE cast double-rounds (hugeint ->
    double, then /10^s) and diverges from Spark's correctly-rounded
    Decimal.toDouble once the integer representation passes 2^53, which
    is exactly what a decimal-sum formulation hit at sf0.1. From the
    identical doubles, the identical cast-and-operate expression rounds
    identically under IEEE. Valid while sum(x * y_cents) fits int64
    (~sf10 here); beyond that, bucket the day index or re-origin the
    epoch per partition before summing.
    """
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & finite("o_totalprice")
    )
    d = o.select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate"), F.lit(TREND_EPOCH).cast("date")
        ).alias("x"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("yc"),
    )
    stats = d.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("syc"),
        F.sum(F.expr("CAST(x AS BIGINT) * yc")).alias("sxyc"),
        F.sum(F.expr("CAST(x AS BIGINT) * CAST(x AS BIGINT)")).alias("sxx"),
    )
    slope = (
        "((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(syc AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / CAST(100 AS DOUBLE)"
    )
    return stats.select(
        "o_orderpriority",
        "n",
        F.expr(slope).alias("slope"),
        F.expr(
            f"(CAST(syc AS DOUBLE) / CAST(100 AS DOUBLE)"
            f" - ({slope}) * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE)"
        ).alias("intercept"),
    )


def q_corr_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag Pearson correlation of quantity vs price, via the same
    one-pass exact-sufficient-statistics device as regression_trend
    (n, Sx, Sy, Sxy, Sxx, Syy as int64 sums, closed form in DOUBLE) —
    covering the corr/covar aggregate family without the
    engine-private float accumulation of built-in ``corr``.

    y is truncated integer DOLLARS (cents div 100), not cents: Syy in
    cents would pass int64 range near sf1 while dollar-squared sums
    stay exact int64 through ~sf10, and int64 -> DOUBLE is correctly
    rounded in BOTH engines at any magnitude (unlike DuckDB's
    double-rounding DECIMAL -> DOUBLE — the regression_trend lesson).
    x is the integral-valued l_quantity cast to BIGINT (exact).
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite("l_quantity") & finite("l_extendedprice")
    )
    d = li.select(
        "l_returnflag",
        F.expr("CAST(l_quantity AS BIGINT)").alias("x"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 100"
        ).alias("y"),
    )
    stats = d.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    # Radicand-guarded (the _pearson_from_sums convention, r10): a
    # constant side makes a radicand 0 (ANSI crash) and a rounding-
    # negative one splits the engines (Spark sqrt NaN vs DuckDB raise).
    corr = (
        "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0"
        "      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0"
        " THEN"
        " (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        " END"
    )
    return stats.select(
        "l_returnflag", "n", F.expr(corr).alias("corr_qty_price")
    )


# Shared float chain for q_moments_value and its oracle: ONE textual
# expression evaluated by both engines on identical exact DECIMAL(38,0)
# power-sum inputs (int64 until r10 — see q_moments_value).
# Every op in it is IEEE exactly-rounded (+ - * / sqrt; pow/ln banned —
# libm ulps differ between JVM and DuckDB), so the doubles match
# bit-for-bit. m2 <= 0 (degenerate group) guards to NULL on both sides.
_MOMENTS_EXPRS = {
    "mean": "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
    "m2": (
        "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    ),
}
_MOMENTS_EXPRS["skewness"] = (
    "CASE WHEN ({m2}) <= 0.0 THEN NULL ELSE"
    " (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - 3.0 * ({mean}) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + 2.0 * ({mean}) * ({mean}) * ({mean}))"
    " / (({m2}) * sqrt({m2})) END"
).format(**_MOMENTS_EXPRS)
_MOMENTS_EXPRS["kurtosis"] = (
    "CASE WHEN ({m2}) <= 0.0 THEN NULL ELSE"
    " (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - 4.0 * ({mean}) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + 6.0 * ({mean}) * ({mean}) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    "  - 3.0 * ({mean}) * ({mean}) * ({mean}) * ({mean}))"
    " / (({m2}) * ({m2})) - 3.0 END"
).format(**_MOMENTS_EXPRS)


def q_moments_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed skewness and excess kurtosis per event type — the
    distribution-shape profile (heavy tails, asymmetry) a feature-
    quality monitor computes at ingest, via ONE pass of exact integer
    power sums: values quantize to integer dollars (floor) and s1..s4
    accumulate EXACTLY in wide decimals — DECIMAL(38,0) outputs, with
    the engine computing through Spark's capped-at-38 decimal products
    and the twin through HUGEINT (both exact below 1e38). Domain:
    |dollars| < 1e9, so d^4 <= 1e36 stays exact; int64 accumulators
    (the r2-r9 form) overflowed at d ~ 55k — a single $100k event
    ANSI-crashed the scan (probed r10 on an adversarial corpus). The
    closed-form float chain runs ONCE per group on identical operands
    in both engines (exactly-rounded ops only — see _MOMENTS_EXPRS).

    This is the moment-sketch pattern: power sums are associative and
    mergeable, so partial aggregation collapses map-side and a rollup
    of shards is a sum of tiny vectors — never a rescan. The exact
    power sums ship alongside the derived moments as the hash anchor —
    as VARCHAR carriers, not decimals: the r10 driver row proved the
    values bit-identical yet hash-RED, because Spark decimal vs DuckDB
    decimal/HUGEINT fetches stringify differently in the driver's
    dtype-sensitive hash (the same class as the r4 BPE drift). Wide
    decimals stay INTERNAL; output dtypes obey the portable whitelist
    (tests/test_output_dtypes.py). Domain: the bound is on the GROUP
    power-sum, not the row — rows x d^4 < 1e38 (e.g. 1e9 rows of
    |d| <= 3.1e7 dollars); past it Spark decimal overflow and DuckDB's
    HUGEINT->DECIMAL cast fail at different points.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    ev = load_table(spark, sf_dir, "events").filter(finite("value"))
    d = ev.select(
        "event_type",
        F.expr("CAST(CAST(floor(value) AS BIGINT) AS DECIMAL(9,0))").alias(
            "d"
        ),
    )
    stats = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(d) AS DECIMAL(38,0))").alias("s1"),
        F.expr("CAST(SUM(d * d) AS DECIMAL(38,0))").alias("s2"),
        F.expr("CAST(SUM(d * d * d) AS DECIMAL(38,0))").alias("s3"),
        F.expr("CAST(SUM((d * d) * (d * d)) AS DECIMAL(38,0))").alias("s4"),
    )
    return stats.select(
        "event_type",
        "n",
        F.expr("CAST(s1 AS STRING)").alias("s1"),
        F.expr("CAST(s2 AS STRING)").alias("s2"),
        F.expr("CAST(s3 AS STRING)").alias("s3"),
        F.expr("CAST(s4 AS STRING)").alias("s4"),
        F.expr(_MOMENTS_EXPRS["skewness"]).alias("skewness"),
        F.expr(_MOMENTS_EXPRS["kurtosis"]).alias("kurtosis"),
    )


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution drift report — the monitor a feature
    pipeline runs between yesterday's and today's snapshot before a
    model retrains on silently-shifted data. Baseline = even order
    keys, candidate = odd keys (a deterministic stand-in for two time
    snapshots); the baseline's exact deciles become shared bucket
    edges (ONE aggregate, broadcast back — the rfm_segments threshold
    device, no global sort), both samples bucket map-side via an
    order-free indicator sum, and each bucket reports counts, shares,
    and its
    chi-squared drift term ((share_b - share_a)^2 / share_a — the
    exact-arithmetic PSI surrogate: PSI's ln() is banned by the
    cross-engine ulp rule, and the chi-square term ranks drift
    identically).

    Counts are exact; shares and terms are divisions of identical
    operands. At 100 TB: two scans + one decile aggregate + one
    20-row rollup; the snapshots never join row-to-row.
    """
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    o = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    ).select(
        (F.col("o_orderkey") % 2 == 0).alias("is_base"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("cents"),
    )
    probs = [i / 10.0 for i in range(1, 10)]
    edges = o.filter("is_base").agg(
        F.expr(
            "percentile(cents, array({}))".format(
                ", ".join(f"{p}D" for p in probs)
            )
        ).alias("es")
    )
    # Bucket id = number of decile edges strictly below the value (an
    # indicator SUM, order-free — a CASE ladder would have to nest in
    # descending edge order to be correct).
    bucket = sum(
        (F.col("cents") > F.expr(f"es[{i}]")).cast("int") for i in range(9)
    )
    counts = (
        o.crossJoin(F.broadcast(edges))
        .select("is_base", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.when(F.col("is_base"), 1)).alias("n_base"),
            F.count(F.when(~F.col("is_base"), 1)).alias("n_cand"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cand").alias("tc")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_base",
            "n_cand",
            (F.col("n_base").cast("double") / F.col("tb").cast("double"))
            .alias("share_base"),
            (F.col("n_cand").cast("double") / F.col("tc").cast("double"))
            .alias("share_cand"),
        )
        .withColumn(
            "chi2_term",
            (F.col("share_cand") - F.col("share_base"))
            * (F.col("share_cand") - F.col("share_base"))
            / F.col("share_base"),
        )
    )


def q_nested_order_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-record construction — the denormalization every
    training-example builder runs (one row per entity, details as an
    ordered array of structs, ready for JSON/proto serialization):
    each order becomes a record with its lineitems as an array sorted
    by (linenumber, partkey, cents), built with ONE
    ``sort_array(collect_list(struct(...)))`` aggregate — a single
    order-keyed exchange, no window, no self-join; array size is
    bounded by the entity's own fan-out (<= 7 here), which is the
    condition that makes collect_list safe.

    For the hash, the nested payload is serialized to a canonical
    string (the driver's canonicalizer can't hash raw list cells):
    item triplets joined ``lineno:partkey:cents`` — so the check
    covers CONTENT AND ORDER of the nested array, not just summary
    stats. Exact ints end to end.
    """
    # Required-column rail (r11 NULL sweep, r12 NULL-node-id wave: ALL
    # four read columns — a NULL partkey made concat_ws emit a
    # two-field 'lineno:cents' token while the twin's || chain nulled
    # the whole element; NULL orderkey/lineno hit the group-key and
    # array-sort NULL-placement traps). Twin mirrors the WHERE.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_partkey").isNotNull()
        # r12: finite, not just non-null (non-finite measure contract)
        & finite("l_extendedprice")
    )
    items = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("lineno"),
            F.col("l_partkey").alias("partkey"),
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        ).alias("item"),
    )
    nested = items.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("item")).alias("items")
    )
    return nested.select(
        F.col("l_orderkey").alias("orderkey"),
        F.size("items").alias("n_items"),
        F.expr("aggregate(items, 0L, (acc, x) -> acc + x.cents)").alias(
            "total_cents"
        ),
        F.array_join(
            F.transform(
                "items",
                lambda x: F.concat_ws(
                    ":",
                    x["lineno"].cast("string"),
                    x["partkey"].cast("string"),
                    x["cents"].cast("string"),
                ),
            ),
            ",",
        ).alias("items_csv"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: rollup(returnflag, linestatus)."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(finite("l_quantity"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations: cube(status, priority)."""
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals per year pivoted by status (explicit pivot values).

    Listing the pivot values up front skips Spark's extra distinct-scan
    job AND keeps the plan a single pass at any scale — pivot with an
    explicit value list compiles to one hash aggregate with conditional
    measures (exactly the oracle's FILTER clauses), no shuffle beyond
    the groupBy.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    return (
        orders.withColumn("yr", F.year("o_orderdate").cast("int"))
        .groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
        .select(
            "yr",
            F.col("F").alias("total_f"),
            F.col("O").alias("total_o"),
            F.col("P").alias("total_p"),
        )
    )


def q_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average price — the correlated
    scalar-subquery pattern, decorrelated into agg + self-join (the same
    rewrite Catalyst's RewriteCorrelatedScalarSubquery performs).

    The average is decimal-sum / count (identical operands in both
    engines), so the > comparison is bit-deterministic cross-engine.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    orders = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    )
    avgs = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias("cust_avg")
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.ck)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


# --------------------------------------------------------------------------
# Window functions (rank / lag / moving frame)
# --------------------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: rank + row_number, tie-broken by key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-over-order price delta via lag/lead."""
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & finite("o_totalprice")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


def q_window_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 3-order sum/avg per customer (ROWS 2 PRECEDING frame)."""
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & finite("o_totalprice")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    moving_sum = F.sum(_dec("o_totalprice")).over(w).cast("double")
    n_in_frame = F.count("*").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        moving_sum.alias("moving_sum"),
        (moving_sum / n_in_frame).alias("moving_avg"),
    )


ENTROPY_COLUMNS = (
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
)


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of five categorical columns — the profiling
    statistic behind feature selection, partition-key choice, and
    compression estimates (a near-zero-entropy column is a bad shuffle
    key and a great RLE candidate). One row per column: row count,
    distinct count, and entropy in nats quantized e9.

    Exactness: the per-value term (n/N)·ln(N/n) is one division + one
    ln, quantized e9 per VALUE (tfidf contract), then the per-column
    entropy is an exact integer sum of those terms — no float
    accumulation across values, so histogram order can't move the
    result.

    At 100 TB: one map-side-combined histogram per column (the scans
    union; Catalyst prunes each to its single column), and everything
    after runs on |distinct values| rows. Columns with huge
    cardinality make the histogram itself big — that's inherent to
    exact entropy; the approx path is a CMS/HLL estimator, out of
    scope here.
    """
    parts = []
    for table, col in ENTROPY_COLUMNS:
        parts.append(
            load_table(spark, sf_dir, table).select(
                F.lit(f"{table}.{col}").alias("col_name"),
                F.col(col).cast("string").alias("val"),
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.union(p)
    hist = stacked.groupBy("col_name", "val").agg(F.count("*").alias("n"))
    tot = hist.groupBy("col_name").agg(
        F.sum("n").alias("n_rows"), F.count("*").alias("n_distinct")
    )
    terms = hist.join(F.broadcast(tot), "col_name").select(
        "col_name",
        "n_rows",
        "n_distinct",
        F.round(
            F.col("n").cast("double")
            / F.col("n_rows").cast("double")
            * F.log(
                F.col("n_rows").cast("double") / F.col("n").cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("term_e9"),
    )
    return terms.groupBy("col_name", "n_rows", "n_distinct").agg(
        F.sum("term_e9").alias("entropy_e9")
    )


MOVMED_FRAME = 5


def q_window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-order moving MEDIAN per customer — the robust
    smoother next to q_window_moving's mean (one bad order drags an
    average for 3 frames; the median ignores it). Spark has no
    percentile-over-frame, so the frame materializes as a bounded
    collect_list, sorts (5 elements), and selects — an EXPRESSION over
    the frame, fine exactly because the frame is O(1); DuckDB spells
    the same thing with its native windowed median(). Exactness:
    cents are exact int64; the even-frame case averages two ints into
    a .5-quantum double identically on both sides.

    Scale: one window sort per customer, frame state bounded at 5 —
    the same shape as every trailing window here.
    """
    # Required-column rail (r11 NULL sweep) extended to the finite-
    # measure contract (r12 non-finite probe). Twin mirrors the WHERE.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & finite("o_totalprice")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-(MOVMED_FRAME - 1), 0)
    )
    frame = F.sort_array(
        F.collect_list(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        ).over(w)
    )
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, ((n + 2) / 2).cast("int"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        n.alias("n_frame"),
        ((lo + hi).cast("double") / F.lit(2.0)).alias("moving_median_cents"),
    )


# --------------------------------------------------------------------------
# Sort / top-k / set operations
# --------------------------------------------------------------------------


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 lineitems by price — TakeOrdered, not a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(10)
    )


def _setop_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_totalprice") > 450000.0).select(
        F.col("o_custkey").alias("custkey")
    )
    return a, b


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.union(b).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.intersect(b)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.exceptAll(b.distinct()).distinct()


# --------------------------------------------------------------------------
# Scalar functions (string / math / date) and JSON
# --------------------------------------------------------------------------


def q_scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String+math scalar battery over part (all JVM-side, codegen'd)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_pre"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_partkey") % 7).alias("key_mod"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        # One-decimal round via scale-0 round on x*10: fractional
        # round(x, n) DIVERGES between engines on half-boundary decimal
        # representations (Spark HALF_UPs the shortest decimal string,
        # DuckDB rounds the binary value: round(1.005, 2) -> 1.01 vs
        # 1.00 — probed r10), while scale-0 rounding of the same binary
        # value is identical in both. No .x5 price exists in the
        # testdata, so values are unchanged there; this makes the twin
        # equal by construction everywhere.
        (F.round(F.col("p_retailprice") * 10).cast("bigint") / 10.0).alias(
            "price_round"
        ),
        # Radicand guard (r11 wave-2 sweep): Spark sqrt(negative) is NaN
        # while DuckDB RAISES — the Pearson-family split (127d9ab), here
        # on a crafted negative retail price. NULL per the degenerate
        # convention.
        F.when(
            F.col("p_retailprice") >= 0, F.sqrt(F.col("p_retailprice"))
        ).alias("price_sqrt"),
        F.greatest("p_size", F.lit(10)).alias("size_min10"),
    )


def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar battery over orders (timestamp_ntz column)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (F.weekday("o_orderdate") + 1).alias("isodow"),
        # make_date from naive components (= DuckDB date_trunc('month')
        # cast to DATE) — avoids date_trunc's NTZ->session-TZ->NTZ
        # round-trip, which is only identity under a fixed-offset TZ
        # (see event_windows._trunc_week_ntz for the DST failure mode).
        F.make_date(
            F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)
        ).alias("month_start"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_1999"
        ),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction over events.props + grouped aggregate.

    get_json_object runs JVM-side (Jayway JsonPath) — no UDF. The value
    sum goes through DECIMAL for cross-engine bit-exactness.
    """
    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    ev = load_table(spark, sf_dir, "events").filter(finite("value"))
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            "value",
        )
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


# The engine's SQL entry point: the same ANSI text runs on Spark (via
# registered temp views) and on DuckDB as its own oracle — one string,
# two engines. TPC-H Q3 shape (shipping priority).
_SQL_Q3 = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q3)


# TPC-H Q5 shape (local supplier volume): the 6-table join chain with a
# co-nation equi-condition — the widest join tree in the suite. Catalyst
# broadcast-joins region/nation/supplier/customer and shuffles only
# orders JOIN lineitem; at 100 TB the date filter prunes at the scan.
_SQL_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC
"""


def q_sql_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q5)


# TPC-H Q18 shape (large-volume customers): IN-subquery with a grouped
# HAVING — planned as a left-semi join on the aggregated subquery, then
# re-joined and re-aggregated; top-k by a deterministic tiebreak.
_SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE (l_quantity IS NOT NULL AND NOT isnan(l_quantity) AND abs(l_quantity) <> CAST('Infinity' AS DOUBLE))
  -- r12 finite-measure contract (portable spelling, both reads)
  AND o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity) AND abs(l_quantity) <> CAST('Infinity' AS DOUBLE)
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_sql_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q18)


# TPC-H Q7 shape (volume shipping between two nations): the nation table
# joins the fact chain TWICE under different roles (supplier's nation vs
# customer's nation) with a symmetric OR pair-filter, grouped by year.
# Both nation sides broadcast; EXTRACT is cast to BIGINT because Spark's
# year() is INT while DuckDB's EXTRACT is BIGINT — the cast pins the
# shared-string schema.
_SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue,
       COUNT(*) AS n_shipments
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_sql_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q7)


# TPC-H Q10 shape (returned-item reporting): customer-level revenue loss
# on returned lineitems in a quarter, top 20. Exercises a 4-table join
# where the selective filter (returnflag + date window) sits on the FACT
# side — scan pruning does the heavy lifting, then a high-cardinality
# groupBy on custkey and a TakeOrdered top-k.
_SQL_Q10 = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_sql_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q10)


# TPC-H Q1 (pricing summary) through the SQL API — the DataFrame twin is
# q_agg_multi; this one proves the SQL surface plans the same partial-
# aggregate shape. All money math in DECIMAL(18,2), cast to DOUBLE once
# at the end (bit-exact across engines; float accumulation is not).
# Decimal->double bound, audited r5: the scale-6 sum_charge is the
# repo's largest decimal sum (integer representation ~2.8e15 at sf0.1,
# 3.2x under 2^53). Below 2^53 DuckDB's two-step DECIMAL->DOUBLE cast
# is exact and matches Spark bit-for-bit; past it (sf1+ here) the cast
# double-rounds and the twin would need the BIGINT-cents technique used
# by regression_trend.
_SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  -- r12 finite-measure contract, portable spelling (shared string
  -- runs verbatim on Spark AND DuckDB; isnan(NULL) differs, hence
  -- the explicit IS NOT NULL legs)
  AND l_quantity IS NOT NULL AND NOT isnan(l_quantity) AND abs(l_quantity) <> CAST('Infinity' AS DOUBLE)
  AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice) AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE)
  AND l_discount IS NOT NULL AND NOT isnan(l_discount) AND abs(l_discount) <> CAST('Infinity' AS DOUBLE)
  AND l_tax IS NOT NULL AND NOT isnan(l_tax) AND abs(l_tax) <> CAST('Infinity' AS DOUBLE)
GROUP BY l_returnflag, l_linestatus
"""


def q_sql_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q1)


# TPC-H Q4 shape (order priority checking), adapted: the synthetic
# schema has no commit/receipt dates, so "late" = some lineitem shipped
# more than 60 days after the order date. Planned as a left-semi join
# against the correlated EXISTS.
_SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_sql_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q4)


# TPC-H Q6 (forecasting revenue change): the pure scan-predicate query —
# every filter must reach the parquet scan; no join, one global agg.
_SQL_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_sql_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q6)


# TPC-H Q14 (promotion effect): conditional aggregation over a
# fact-to-dim join. Sums stay DECIMAL; the ratio is taken in DOUBLE
# (decimal-division scale rules differ between engines, double division
# of exact decimal sums does not).
_SQL_Q14 = """
SELECT 100.0
       * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""


def q_sql_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q14)


# TPC-H Q16 shape (parts/supplier relationship), adapted: no partsupp
# table, so supplier sets come from shipped lineitems. COUNT(DISTINCT)
# over a join with dim-side filters.
_SQL_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
"""


def q_sql_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q16)


# TPC-H Q22 shape (global sales opportunity), adapted twice: no phone
# column, so grouping is by nation; and every synthetic customer has
# orders, so the anti-join condition is "no FINISHED order" to keep the
# NOT EXISTS selective rather than vacuous. Scalar subquery threshold +
# anti join. The threshold divides an exact decimal sum in DOUBLE so
# both engines compute the identical cutoff (a float AVG would drift in
# accumulation order and flip borderline customers).
_SQL_Q22 = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY n_name
"""


def q_sql_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q22)


# TPC-H Q8 shape (national market share): revenue share of one nation's
# suppliers among one region's customer orders, per year. A CASE-sum
# ratio over the full join tree; the share divides exact decimal sums in
# DOUBLE (identical operands both engines).
_SQL_Q8 = """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
) all_nations
GROUP BY o_year
"""


def q_sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q8)


# TPC-H Q9 shape (product type profit), adapted: no partsupp table, so
# supply cost is a deterministic function of the part (60% of retail
# price) — the join tree, per-nation-per-year grouping, and
# revenue-minus-cost arithmetic are the real content.
_SQL_Q9 = """
SELECT n_name AS nation, o_year,
       CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
         - CAST(ROUND(p_retailprice * 0.6, 2) AS DECIMAL(18,2))
           * CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_type = 'PROMO'
) profit
GROUP BY n_name, o_year
"""


def q_sql_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q9)


# TPC-H Q13 (customer order-count distribution): left join so
# zero-order customers are counted, then a histogram of the counts —
# the double-aggregation shape.
_SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


def q_sql_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q13)


# TPC-H Q15 (top supplier): quarterly revenue per supplier, then the
# max-revenue supplier(s) via a scalar subquery over the same derived
# table — the classic view-reuse shape. Revenue stays DECIMAL through
# the max comparison so the tie set is exact, cast once for output.
_SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q_sql_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q15)


# TPC-H Q17 (small-quantity-order revenue): correlated scalar average
# per part. The threshold compares l_quantity (double) against 0.2 x a
# DOUBLE division of an exact decimal sum by a count — deterministic in
# both engines, so the filtered row set is identical.
_SQL_Q17 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(*))
    FROM lineitem WHERE l_partkey = p_partkey)
"""


def q_sql_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q17)


# TPC-H Q12 shape (shipping modes / priority), adapted: no shipmode
# column, so lineitems classify late/ontime by shipdate vs orderdate +
# 30 days. Conditional counts per class.
_SQL_Q12 = """
SELECT late_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
              THEN 'late' ELSE 'ontime' END AS late_class
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
GROUP BY late_class
"""


def q_sql_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q12)


# TPC-H Q19 shape (discounted revenue, OR-ed predicate bands), adapted:
# no container column, so bands are (brand, size range, quantity range).
# The disjunctive join predicate must still plan as an equi-join on
# partkey with the OR residual as a post-join filter — never a
# cartesian.
_SQL_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


def q_sql_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q19)


# TPC-H Q21 shape (suppliers who kept orders waiting), adapted:
# lateness is shipdate > orderdate + 60 days (no commit/receipt dates).
# One EXISTS + one NOT EXISTS, both correlated on the order — the
# double-decorrelation query.
_SQL_Q21 = """
SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


def q_sql_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q21)


# Derived partsupp surrogate: the driver's testdata has no partsupp
# table (SURVEY.md §8), so Q2/Q11/Q20 synthesize one from the distinct
# (l_partkey, l_suppkey) pairs actually traded, with availqty and
# supply cost as deterministic INTEGER functions of the keys — the same
# device as Q9's derived supply cost, but in whole cents so every
# comparison, MIN, and SUM below is exact integer arithmetic in BOTH
# engines (no decimal-scale or float-accumulation drift; cast to DOUBLE
# only at output). At 100 TB the CTE is one map-side-combined groupBy
# of the two key columns — Zipf-small output (suppliers x parts), and
# Catalyst plans each query's joins against it like a real dim table.
_PARTSUPP_CTE = """
WITH partsupp AS (
  SELECT l_partkey AS ps_partkey,
         l_suppkey AS ps_suppkey,
         (l_partkey * 7 + l_suppkey * 13) % 9999 + 1 AS ps_availqty,
         (l_partkey * 31 + l_suppkey * 17) % 100000 + 100
           AS ps_supplycost_cents
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
"""

# TPC-H Q2 (minimum cost supplier): correlated MIN subquery over the
# surrogate partsupp, decorrelated by Catalyst into an aggregate +
# join. Output columns restricted to the synthetic schema (no
# s_address/s_phone/p_mfgr). The ORDER BY is a total order — s_name is
# unique per supplier, so (s_name, p_partkey) keys each row — making
# the LIMIT deterministic cross-engine.
_SQL_Q2 = _PARTSUPP_CTE + """
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
FROM part
JOIN partsupp ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size <= 15
  AND p_type = 'PROMO'
  AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT MIN(ps2.ps_supplycost_cents)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_sql_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q2)


# TPC-H Q11 (important stock identification): per-part stock value in
# one nation vs a fraction of the national total. The HAVING threshold
# is kept in the integer domain (value x 10000 > total) so there is no
# knife-edge double comparison at all; DOUBLE appears only in the
# output projection of exact integer sums.
_SQL_Q11 = _PARTSUPP_CTE + """
SELECT ps_partkey,
       CAST(SUM(ps_supplycost_cents * ps_availqty) AS DOUBLE) / 100.0
         AS part_value
FROM partsupp
JOIN supplier ON ps_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
GROUP BY ps_partkey
HAVING SUM(ps_supplycost_cents * ps_availqty) * 10000 > (
  SELECT SUM(ps2.ps_supplycost_cents * ps2.ps_availqty)
  FROM partsupp ps2
  JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
  WHERE n2.n_name = 'NATION_1')
ORDER BY part_value DESC, ps_partkey
"""


def q_sql_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q11)


# TPC-H Q20 (potential part promotion): suppliers in one nation holding
# surplus stock (availqty > half the 1996 shipped quantity) of 'small'
# parts. Nested IN + correlated scalar SUM, both decorrelated by
# Catalyst. l_quantity is integer-valued double in the testdata, so
# SUM(l_quantity) is exact under any accumulation order and the 0.5x
# threshold comparison is deterministic cross-engine; a pair with no
# 1996 shipments yields a NULL threshold and is excluded identically by
# both engines.
_SQL_Q20 = _PARTSUPP_CTE + """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT ps_suppkey
  FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND ps_availqty > (
      SELECT 0.5 * SUM(l_quantity)
      FROM lineitem
      WHERE l_partkey = ps_partkey
        AND l_suppkey = ps_suppkey
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_1')
ORDER BY s_name
"""


def q_sql_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_SQL_Q20)


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape with ``DataFrame.unpivot`` (ANSI UNPIVOT):
    lineitem's four measure columns to (key, measure, value) rows. The
    generator runs in the scan projection — no shuffle at all; values
    are projected untouched, so the roundtrip is bit-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` props into
    a VARIANT column, ``variant_get`` typed extraction, grouped
    aggregate. The open-schema alternative to from_json's fixed schema —
    at 100 TB the shredded variant skips re-parsing per access."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("pv")
    ).select(
        "event_type",
        F.expr("variant_get(pv, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q_json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parsed with ``from_json`` into map<string,bigint>, exploded
    to (key, value) rows, re-aggregated — the typed-JSON path next to
    ``json_extract``'s path-string one. All JVM-side (Jackson parse +
    generator), no UDF."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.explode(F.from_json("props", "map<string,bigint>")).alias("pkey", "pval")
        )
        .groupBy("pkey", (F.col("pval") % 5).alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("pval").alias("sum_val"))
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of ``orders``: one row per column with
    (column_name, n_rows, n_nulls, n_distinct) — the first query any
    ingestion pipeline runs against a new 100 TB drop.

    ONE scan: count(*), a null-counter per column, and an exact
    count(DISTINCT) per column in a single aggregate. Catalyst plans
    the multi-distinct as one Expand (x6 rows here, x#cols generally) +
    two-level partial aggregate — still a single pass over the data and
    fully map-side combinable, vs 6 separate scans for the naive
    per-column loop. (At petabyte scale swap the exact distinct for
    approx_count_distinct and the Expand disappears; exact is kept here
    because the driver hash-compares values.) The wide 1-row aggregate
    is unpivoted to the long profile shape with stack() — driver-side
    cost zero, output is #cols rows. All-integer output: hash-exact.
    """
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS)
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, count(*) AS n_rows,"
    f" count(*) - count({c}) AS n_nulls,"
    f" count(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS
)


def q_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared contingency cells for o_orderpriority ×
    o_orderstatus: per observed cell, the observed count, marginal
    totals, expected count and the cell's chi² term — the sufficient
    per-cell decomposition of the independence test (the analyst sums
    chi2_term; we ship the cells so the driver hash never depends on a
    cross-engine float SUM whose accumulation order differs).

    One scan feeds four partial aggregates (cells + two marginals +
    total); the marginals/total are category-sized, so they broadcast
    back onto the cell table. Float ops are a fixed per-row sequence
    (mul-cast-div, sub, mul, div) on exact-integer-derived operands —
    every IEEE step correctly rounded, bit-identical in DuckDB.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_obs")
    )
    rows_t = o.groupBy("o_orderpriority").agg(F.count("*").alias("n_row"))
    cols_t = o.groupBy("o_orderstatus").agg(F.count("*").alias("n_col"))
    total = o.agg(F.count("*").alias("n_total"))
    j = (
        cells.join(F.broadcast(rows_t), "o_orderpriority")
        .join(F.broadcast(cols_t), "o_orderstatus")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "expected",
            (F.col("n_row") * F.col("n_col")).cast("double")
            / F.col("n_total").cast("double"),
        )
    )
    diff = F.col("n_obs").cast("double") - F.col("expected")
    return j.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_obs",
        "n_row",
        "n_col",
        "n_total",
        "expected",
        (diff * diff / F.col("expected")).alias("chi2_term"),
    )


_CHI2_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_obs
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT o_orderpriority, count(*) AS n_row FROM orders GROUP BY 1),
ct AS (SELECT o_orderstatus, count(*) AS n_col FROM orders GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM orders),
j AS (
  SELECT c.o_orderpriority, c.o_orderstatus, c.n_obs,
         rt.n_row, ct.n_col, tot.n_total,
         CAST(rt.n_row * ct.n_col AS DOUBLE)
           / CAST(tot.n_total AS DOUBLE) AS expected
  FROM cells c
  JOIN rt USING (o_orderpriority)
  JOIN ct USING (o_orderstatus)
  CROSS JOIN tot
)
SELECT o_orderpriority, o_orderstatus, n_obs, n_row, n_col, n_total,
       expected,
       (CAST(n_obs AS DOUBLE) - expected)
         * (CAST(n_obs AS DOUBLE) - expected) / expected AS chi2_term
FROM j
"""


def q_percent_rank_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank (quantile) normalization of l_extendedprice within each
    l_returnflag group — the distribution-free feature scaling step
    (maps any skewed distribution onto [0, 1] uniformly). Emits every
    row with its normalized rank.

    The window orders by (value, orderkey, linenumber) — a TOTAL order,
    so percent_rank is (row_number-1)/(n-1) with no tie plateaus and
    both engines cut identically. One shuffle on the group key; the
    division is int/int on exact operands (correctly rounded, hash-
    exact). Groups are few and large here — at cluster scale the
    per-group sort is the textbook use of range partitioning inside a
    window exchange, and AQE splits any skewed group's sort spill.
    """
    # Required-column rail (r11 NULL sweep; r12 added the two ORDER BY
    # tiebreak keys — a NULL linenumber sorts NULLS FIRST in Spark
    # windows but NULLS LAST in DuckDB, shifting every later rank in
    # the group). Twin mirrors the WHERE.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.percent_rank().over(w).alias("pr"),
    )


_PR_NORM_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       percent_rank() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey,
                                     l_linenumber) AS pr
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
"""


PARETO_NUM = 4  # head = smallest revenue-ranked prefix reaching 4/5 (80%)
PARETO_DEN = 5


def q_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration report per nation: how many of a
    nation's customers does it take to cover 80% of its order revenue?
    The whale-detection readout behind account tiering, support
    prioritization, and revenue-at-risk analysis — the per-group
    version of gini_value's concentration story.

    The 80% cut is decided in EXACT integer arithmetic: with revenue
    in cents, customer c (ranked by revenue DESC, custkey) is in the
    head iff the revenue strictly BEFORE c has not yet reached 80% —
    cum_before * {PARETO_DEN} < total * {PARETO_NUM} — all int64
    cross-products, no float thresholds; head_share is ONE closing
    division. Rank windows partition by nation (parallel), and the
    per-customer aggregate underneath is one map-side-combined groupBy.

    At 100 TB: customer-level revenue is the only corpus-scale
    aggregate; windows run over |customers-per-nation| rows. The
    nation dim broadcasts.
    """
    from pyspark.sql import Window

    # Finite-measure contract (r12 non-finite probe); twin mirrors.
    o = load_table(spark, sf_dir, "orders").filter(
        finite("o_totalprice")
    ).select(
        "o_custkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    per_cust = (
        o.join(cust, "o_custkey")
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").alias("rev"))
    )
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("rev").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("c_nationkey")
    flagged = per_cust.select(
        "c_nationkey",
        "rev",
        F.coalesce(F.sum("rev").over(w), F.lit(0)).alias("cum_before"),
        F.sum("rev").over(wt).alias("total"),
    ).select(
        "c_nationkey",
        "rev",
        "total",
        (
            F.col("cum_before") * PARETO_DEN < F.col("total") * PARETO_NUM
        ).alias("in_head"),
    )
    agg = flagged.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("in_head").cast("long")).cast("long").alias("n_head"),
        F.sum(F.when(F.col("in_head"), F.col("rev")).otherwise(0))
        .cast("long")
        .alias("head_cents"),
        F.max("total").cast("long").alias("total_cents"),
    )
    return agg.join(F.broadcast(nation), "c_nationkey").select(
        "n_name",
        "n_customers",
        "n_head",
        "head_cents",
        "total_cents",
        (
            F.col("n_head").cast("double") / F.col("n_customers").cast("double")
        ).alias("head_customer_share"),
        (
            F.col("head_cents").cast("double") / F.col("total_cents").cast("double")
        ).alias("head_revenue_share"),
    )


K_ANON_LEVELS = (2, 5, 10, 20)


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of a would-be data release — the
    privacy gate a dataset passes before leaving the platform: treat
    (customer nation, order month, order priority) as the
    quasi-identifier of a released orders extract, and for each k in
    {K_ANON_LEVELS} report how many equivalence classes and rows fall
    below k (re-identifiable), plus the l-diversity failure count
    (classes where the sensitive attribute o_orderstatus takes a single
    value — attribute disclosure even when k holds).

    One corpus-scale aggregate builds the class histogram (size +
    distinct-sensitive per class, map-side combined); the per-k report
    is a broadcast literal join over the |classes|-row aggregate with
    conditional exact-int sums and ONE closing division per rate.

    At 100 TB this is the cheapest audit shape there is — the release
    itself is never shuffled twice, and the k sweep costs |classes| x 4
    aggregate rows.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        "o_orderpriority",
        "o_orderstatus",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    classes = (
        o.join(cust, "o_custkey")
        .groupBy("c_nationkey", "month", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_orderstatus").alias("n_status"),
        )
    )
    ks = spark.createDataFrame(
        [(k,) for k in K_ANON_LEVELS], "k long"
    )
    joined = classes.crossJoin(F.broadcast(ks))
    return (
        joined.groupBy("k")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_small_classes"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("n_status") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_single_status_classes"),
        )
        .select(
            "k",
            "n_classes",
            "n_small_classes",
            "rows_at_risk",
            "n_rows",
            "n_single_status_classes",
            (
                F.col("rows_at_risk").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("suppression_rate"),
        )
    )


IVM_CUT = "1997-06-01"


def q_agg_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a grouped aggregate — the
    pattern that turns an hourly full recompute into a delta merge:
    the standing aggregate (orders strictly before {IVM_CUT}) and the
    newly-arrived delta (orders on/after it) are each reduced to the
    MERGEABLE partial state (count, exact cents sum) and combined with
    a full-outer key merge; avg is derived from the merged state, never
    maintained directly (non-mergeable statistics ride their mergeable
    sufficient statistics — the same algebra partial aggregation uses
    inside every shuffle).

    The DuckDB oracle is the FULL recompute over all orders, so the
    hash match is the IVM correctness proof: merge(state(A), state(B))
    == state(A ∪ B), bit-exact because counts and cents are int64.

    At 100 TB: the base state is |groups| rows read from the previous
    materialization (metadata scale); only the delta is scanned — the
    entire point. The merge is a broadcast-sized full-outer join.
    """
    # Required-column rail (r11 NULL sweep; twin mirrors the WHERE).
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        # r12: finite, not just non-null (non-finite measure contract)
        & finite("o_totalprice")
        # a row without a date falls through the state/delta cut split
        & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderpriority",
        "o_orderdate",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    cut = F.to_date(F.lit(IVM_CUT))

    def state(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
        )

    base = state(o.filter(F.col("o_orderdate") < cut))
    delta = state(o.filter(F.col("o_orderdate") >= cut))
    b = base.select(
        "o_orderpriority",
        F.col("n").alias("n_b"),
        F.col("sum_cents").alias("s_b"),
    )
    d = delta.select(
        "o_orderpriority",
        F.col("n").alias("n_d"),
        F.col("sum_cents").alias("s_d"),
    )
    merged = b.join(d, "o_orderpriority", "full_outer").select(
        "o_orderpriority",
        (
            F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))
        ).cast("long").alias("n_orders"),
        (
            F.coalesce("s_b", F.lit(0)) + F.coalesce("s_d", F.lit(0))
        ).cast("long").alias("sum_cents"),
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "sum_cents",
        (
            F.col("sum_cents").cast("double") / F.col("n_orders").cast("double")
        ).alias("avg_cents"),
    )


def q_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quality quarantine: classify every lineitem row
    against 4 business rules into an integer reason BITMASK and report
    the quarantine census (bitmask, human-readable reasons, row count,
    corpus share) — where dq_audit counts violations per constraint,
    this is the row-disposition view: which rows go to the quarantine
    table and WHY (multi-rule hits stay one row with a composite mask,
    never double-counted).

    Rules (bit): deep_discount > 6% (1), bulk_qty > 45 (2),
    high_tax >= 7% (4), status/flag conflict — open status with a
    non-'N' return flag (8). Rate columns compare as exact basis
    points (the CENTS device), never as raw floats.

    At 100 TB: pure map-side classification (4 CASEs + adds fused in
    whole-stage codegen) into a <= 16-row aggregate; the reasons
    string decodes FROM the mask after aggregation, so no string ever
    rides the exchange. The share is one closing division against a
    broadcast 1-row total.
    """
    # Finite-measure contract (r12 non-finite probe: the basis-point
    # casts crash on NaN/Inf before the rule masks even apply — a
    # quarantine query that crashes on dirty data defeats itself).
    # Twin mirrors.
    li = load_table(spark, sf_dir, "lineitem").filter(
        finite("l_discount") & finite("l_quantity") & finite("l_tax")
    )
    bp = "CAST(CAST({c} AS DECIMAL(18,4)) * 10000 AS BIGINT)"
    mask = (
        F.when(F.expr(bp.format(c="l_discount")) > 600, 1).otherwise(0)
        + F.when(F.col("l_quantity") > 45, 2).otherwise(0)
        + F.when(F.expr(bp.format(c="l_tax")) >= 700, 4).otherwise(0)
        + F.when(
            (F.col("l_linestatus") == "O") & (F.col("l_returnflag") != "N"),
            8,
        ).otherwise(0)
    )
    census = (
        li.select(mask.alias("bitmask"))
        .groupBy("bitmask")
        .agg(F.count("*").alias("n_rows"))
    )
    total = census.agg(F.sum("n_rows").alias("n_total"))
    reasons = F.concat_ws(
        "+",
        F.when(F.col("bitmask").bitwiseAND(1) > 0, "deep_discount"),
        F.when(F.col("bitmask").bitwiseAND(2) > 0, "bulk_qty"),
        F.when(F.col("bitmask").bitwiseAND(4) > 0, "high_tax"),
        F.when(F.col("bitmask").bitwiseAND(8) > 0, "status_flag_conflict"),
    )
    return census.crossJoin(F.broadcast(total)).select(
        "bitmask",
        reasons.alias("reasons"),
        "n_rows",
        (
            F.col("n_rows").cast("double") / F.col("n_total").cast("double")
        ).alias("share"),
    )


QUERIES = {
    "quarantine_rows": q_quarantine_rows,
    "pareto_cut": q_pareto_cut,
    "k_anonymity_audit": q_k_anonymity_audit,
    "agg_delta_maintenance": q_agg_delta_maintenance,
    "join_inner": q_join_inner,
    "profile_columns": q_profile_columns,
    "concurrent_shipments": q_concurrent_shipments,
    "gini_value": q_gini_value,
    "rfm_segments": q_rfm_segments,
    "chi2_cells": q_chi2_cells,
    "percent_rank_norm": q_percent_rank_norm,
    "json_map_explode": q_json_map_explode,
    "sql_tpch_q1": q_sql_q1,
    "sql_tpch_q2": q_sql_q2,
    "sql_tpch_q3": q_sql_api,
    "sql_tpch_q11": q_sql_q11,
    "sql_tpch_q20": q_sql_q20,
    "sql_tpch_q4": q_sql_q4,
    "sql_tpch_q5": q_sql_q5,
    "sql_tpch_q6": q_sql_q6,
    "sql_tpch_q7": q_sql_q7,
    "sql_tpch_q8": q_sql_q8,
    "sql_tpch_q9": q_sql_q9,
    "sql_tpch_q10": q_sql_q10,
    "sql_tpch_q12": q_sql_q12,
    "sql_tpch_q13": q_sql_q13,
    "sql_tpch_q15": q_sql_q15,
    "sql_tpch_q17": q_sql_q17,
    "sql_tpch_q19": q_sql_q19,
    "sql_tpch_q21": q_sql_q21,
    "sql_tpch_q14": q_sql_q14,
    "sql_tpch_q16": q_sql_q16,
    "sql_tpch_q18": q_sql_q18,
    "sql_tpch_q22": q_sql_q22,
    "unpivot_measures": q_unpivot_measures,
    "variant_extract": q_variant_extract,
    "join_left": q_join_left,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_full": q_join_full,
    "grouping_sets_agg": q_grouping_sets,
    "window_ntile": q_window_ntile,
    "agg_multi": q_agg_multi,
    "distinct_pairs": q_distinct,
    "group_percentiles": q_group_percentiles,
    "histogram_equidepth": q_histogram_equidepth,
    "dq_audit": q_dq_audit,
    "benford_digits": q_benford_digits,
    "basket_rules": q_basket_rules,
    "skyline_orders": q_skyline_orders,
    "window_moving_median": q_window_moving_median,
    "column_entropy": q_column_entropy,
    "outliers_mad": q_outliers_mad,
    "winsorize_values": q_winsorize_values,
    "corr_measures": q_corr_measures,
    "moments_value": q_moments_value,
    "nested_order_records": q_nested_order_records,
    "distribution_drift": q_distribution_drift,
    "regression_trend": q_regression_trend,
    "price_histogram": q_price_histogram,
    "map_literal_decode": q_map_literal_decode,
    "collect_set_flags": q_collect_set_flags,
    "rollup_agg": q_rollup,
    "cube_agg": q_cube,
    "pivot_status": q_pivot,
    "above_cust_avg": q_above_cust_avg,
    "window_rank": q_window_rank,
    "window_lag": q_window_lag,
    "window_moving": q_window_moving,
    "topk_orders": q_topk,
    "set_union": q_set_union,
    "set_intersect": q_set_intersect,
    "set_except": q_set_except,
    "scalar_string_math": q_scalar_string_math,
    "scalar_date": q_scalar_date,
    "json_extract": q_json_extract,
}

_SETOP_A = "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SETOP_B = "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0"

ORACLE = {
    # the IVM proof: oracle = FULL recompute; engine = base+delta merge
    "quarantine_rows": """
WITH census AS (
  SELECT (CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
                    > 600 THEN 1 ELSE 0 END
        + CASE WHEN l_quantity > 45 THEN 2 ELSE 0 END
        + CASE WHEN CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)
                    >= 700 THEN 4 ELSE 0 END
        + CASE WHEN l_linestatus = 'O' AND l_returnflag <> 'N'
               THEN 8 ELSE 0 END) AS bitmask,
         COUNT(*) AS n_rows
  FROM lineitem
  WHERE isfinite(l_discount) AND isfinite(l_quantity)
    AND isfinite(l_tax)
  GROUP BY 1
),
total AS (SELECT SUM(n_rows) AS n_total FROM census)
SELECT CAST(bitmask AS INT) AS bitmask,
       concat_ws('+',
         CASE WHEN (bitmask & 1) > 0 THEN 'deep_discount' END,
         CASE WHEN (bitmask & 2) > 0 THEN 'bulk_qty' END,
         CASE WHEN (bitmask & 4) > 0 THEN 'high_tax' END,
         CASE WHEN (bitmask & 8) > 0 THEN 'status_flag_conflict' END)
         AS reasons,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
FROM census, total
""",
    "agg_delta_maintenance": """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_cents,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cents
FROM orders
WHERE o_orderpriority IS NOT NULL AND isfinite(o_totalprice)
  AND o_orderdate IS NOT NULL
GROUP BY o_orderpriority
""",
    "k_anonymity_audit": f"""
WITH classes AS (
  SELECT c.c_nationkey, date_trunc('month', o.o_orderdate) AS month,
         o.o_orderpriority,
         COUNT(*) AS n,
         COUNT(DISTINCT o.o_orderstatus) AS n_status
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2, 3
),
ks AS (SELECT UNNEST([{", ".join(str(k) for k in K_ANON_LEVELS)}]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n_status = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_status_classes,
       CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS suppression_rate
FROM classes CROSS JOIN ks GROUP BY k
""",
    "pareto_cut": f"""
WITH per_cust AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE isfinite(o.o_totalprice)
  GROUP BY 1, 2
),
flagged AS (
  SELECT c_nationkey, rev,
         CAST(SUM(rev) OVER (PARTITION BY c_nationkey) AS BIGINT) AS total,
         COALESCE(CAST(SUM(rev) OVER (PARTITION BY c_nationkey
                         ORDER BY rev DESC, o_custkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS cum_before
  FROM per_cust
),
agg AS (
  SELECT c_nationkey,
         COUNT(*) AS n_customers,
         CAST(SUM(CASE WHEN cum_before * {PARETO_DEN} < total * {PARETO_NUM}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
         CAST(SUM(CASE WHEN cum_before * {PARETO_DEN} < total * {PARETO_NUM}
                       THEN rev ELSE 0 END) AS BIGINT) AS head_cents,
         CAST(MAX(total) AS BIGINT) AS total_cents
  FROM flagged GROUP BY 1
)
SELECT n.n_name, a.n_customers, a.n_head, a.head_cents, a.total_cents,
       CAST(a.n_head AS DOUBLE) / CAST(a.n_customers AS DOUBLE)
         AS head_customer_share,
       CAST(a.head_cents AS DOUBLE) / CAST(a.total_cents AS DOUBLE)
         AS head_revenue_share
FROM agg a JOIN nation n ON n.n_nationkey = a.c_nationkey
""",
    "concurrent_shipments": """
WITH iv AS (
  SELECT CAST(o.o_orderdate AS DATE) AS order_day,
         CAST(l.l_shipdate AS DATE) AS ship_day
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT order_day AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT ship_day + 1 AS day, -1 AS delta FROM iv
),
per_day AS (
  SELECT day,
         CAST(SUM(delta) AS BIGINT) AS net_delta,
         CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_opened
  FROM deltas GROUP BY day
)
SELECT day, n_opened, net_delta,
       CAST(SUM(net_delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_open
FROM per_day
""",
    "gini_value": """
WITH base AS (
  SELECT event_type, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
  WHERE event_type IS NOT NULL AND isfinite(value)
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn
  FROM base
)
SELECT event_type, count(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CASE WHEN SUM(cents) > 0 THEN
         CAST(2*SUM(rn*cents) - (count(*)+1)*SUM(cents) AS DOUBLE)
           / CAST(count(*)*SUM(cents) AS DOUBLE)
       END AS gini
FROM r GROUP BY event_type
""",
    "rfm_segments": f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day',
                        CAST(max(CAST(o_orderdate AS TIMESTAMP)) AS DATE),
                        DATE '{RFM_ANCHOR}') AS INT) AS recency_days,
         count(*) AS frequency,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders WHERE isfinite(o_totalprice) GROUP BY o_custkey
),
thr AS (
  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rt,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS ft,
         quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mt
  FROM cust
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         CAST(5 - ((recency_days > rt[1])::INT + (recency_days > rt[2])::INT
                 + (recency_days > rt[3])::INT + (recency_days > rt[4])::INT)
              AS INT) AS r_score,
         CAST(1 + ((frequency > ft[1])::INT + (frequency > ft[2])::INT
                 + (frequency > ft[3])::INT + (frequency > ft[4])::INT)
              AS INT) AS f_score,
         CAST(1 + ((monetary_cents > mt[1])::INT + (monetary_cents > mt[2])::INT
                 + (monetary_cents > mt[3])::INT + (monetary_cents > mt[4])::INT)
              AS INT) AS m_score
  FROM cust CROSS JOIN thr
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code
FROM scored
""",
    "profile_columns": _PROFILE_SQL,
    "chi2_cells": _CHI2_SQL,
    "percent_rank_norm": _PR_NORM_SQL,
    "sql_tpch_q1": _SQL_Q1,
    "sql_tpch_q2": _SQL_Q2,
    "sql_tpch_q3": _SQL_Q3,
    "sql_tpch_q11": _SQL_Q11,
    "sql_tpch_q20": _SQL_Q20,
    "sql_tpch_q4": _SQL_Q4,
    "sql_tpch_q5": _SQL_Q5,
    "sql_tpch_q6": _SQL_Q6,
    "sql_tpch_q7": _SQL_Q7,
    "sql_tpch_q8": _SQL_Q8,
    "sql_tpch_q9": _SQL_Q9,
    "sql_tpch_q10": _SQL_Q10,
    "sql_tpch_q12": _SQL_Q12,
    "sql_tpch_q13": _SQL_Q13,
    "sql_tpch_q15": _SQL_Q15,
    "sql_tpch_q17": _SQL_Q17,
    "sql_tpch_q19": _SQL_Q19,
    "sql_tpch_q21": _SQL_Q21,
    "sql_tpch_q14": _SQL_Q14,
    "sql_tpch_q16": _SQL_Q16,
    "sql_tpch_q18": _SQL_Q18,
    "sql_tpch_q22": _SQL_Q22,
    "unpivot_measures": """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
    "variant_extract": """
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
    "join_inner": """
SELECT n_name,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE isfinite(o_totalprice)
GROUP BY n_name
""",
    "join_left": """
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
         AS total_price
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE isfinite(o_totalprice)) orders
       ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
""",
    "join_semi": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""",
    "join_anti": """
SELECT c_custkey, c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
    "join_full": """
SELECT COALESCE(a.a_key, b.b_key) AS custkey,
       a.a_key IS NOT NULL AS in_building,
       CAST(COALESCE(b.big_orders, 0) AS BIGINT) AS n_big_orders
FROM (SELECT c_custkey AS a_key FROM customer WHERE c_mktsegment = 'BUILDING') a
FULL OUTER JOIN (SELECT o_custkey AS b_key, count(*) AS big_orders
                 FROM orders WHERE o_totalprice > 450000.0
                 GROUP BY o_custkey) b
ON a.a_key = b.b_key
""",
    "grouping_sets_agg": """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE isfinite(o_totalprice)
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
    "window_ntile": """
SELECT o_orderkey, o_orderstatus,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
    "agg_multi": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  -- r12 finite-measure contract, portable spelling (shared string
  -- runs verbatim on Spark AND DuckDB; isnan(NULL) differs, hence
  -- the explicit IS NOT NULL legs)
  AND l_quantity IS NOT NULL AND NOT isnan(l_quantity) AND abs(l_quantity) <> CAST('Infinity' AS DOUBLE)
  AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice) AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE)
  AND l_discount IS NOT NULL AND NOT isnan(l_discount) AND abs(l_discount) <> CAST('Infinity' AS DOUBLE)
  AND l_tax IS NOT NULL AND NOT isnan(l_tax) AND abs(l_tax) <> CAST('Infinity' AS DOUBLE)
GROUP BY l_returnflag, l_linestatus
""",
    "distinct_pairs": "SELECT DISTINCT l_suppkey, l_partkey FROM lineitem",
    "price_histogram": f"""
SELECT bin, CAST(bin * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo, count(*) AS n
FROM (SELECT CAST(floor(l_extendedprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin
      FROM lineitem WHERE isfinite(l_extendedprice))
GROUP BY bin
""",
    "map_literal_decode": """
SELECT CASE o_orderstatus WHEN 'F' THEN 'finished'
                          WHEN 'O' THEN 'open'
                          WHEN 'P' THEN 'pending'
                          ELSE 'unknown' END AS status_label,
       count(*) AS n
FROM orders GROUP BY 1
""",
    "collect_set_flags": """
SELECT l_suppkey,
       string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag)
         AS flags_csv,
       CAST(count(DISTINCT l_returnflag) AS INT) AS n_flags
FROM lineitem GROUP BY l_suppkey
""",
    "column_entropy": """
WITH stacked AS (
  SELECT 'events.event_type' AS col_name,
         CAST(event_type AS VARCHAR) AS val FROM events
  UNION ALL
  SELECT 'documents.lang', CAST(lang AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'documents.source', CAST(source AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'orders.o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'orders.o_orderpriority', CAST(o_orderpriority AS VARCHAR)
  FROM orders),
hist AS (SELECT col_name, val, COUNT(*) AS n
         FROM stacked GROUP BY 1, 2),
tot AS (SELECT col_name, CAST(SUM(n) AS BIGINT) AS n_rows,
               COUNT(*) AS n_distinct
        FROM hist GROUP BY 1),
terms AS (
  SELECT h.col_name, t.n_rows, t.n_distinct,
         CAST(round(CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE)
                    * ln(CAST(n_rows AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1e9) AS BIGINT) AS term_e9
  FROM hist h JOIN tot t ON t.col_name = h.col_name)
SELECT col_name, n_rows, n_distinct,
       CAST(SUM(term_e9) AS BIGINT) AS entropy_e9
FROM terms GROUP BY 1, 2, 3
""",
    "window_moving_median": f"""
SELECT o_custkey, o_orderkey,
       CAST(COUNT(*) OVER w AS INT) AS n_frame,
       CAST(median(cents) OVER w AS DOUBLE) AS moving_median_cents
FROM (SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        AND isfinite(o_totalprice))
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN {MOVMED_FRAME - 1} PRECEDING AND CURRENT ROW)
""",
    "skyline_orders": """
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents,
         CAST(o_orderdate AS DATE) AS odate
  FROM orders
  WHERE isfinite(o_totalprice) AND o_orderdate IS NOT NULL)
SELECT o_orderkey, price_cents, odate
FROM o p
WHERE NOT EXISTS (
  SELECT 1 FROM o q
  WHERE q.price_cents < p.price_cents AND q.odate > p.odate)
""",
    "basket_rules": """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS bid, p_brand AS item
  FROM lineitem JOIN part ON p_partkey = l_partkey),
tot AS (SELECT COUNT(DISTINCT bid) AS n_baskets FROM baskets),
item_n AS (SELECT item, COUNT(*) AS n FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS n_ab
  FROM baskets a JOIN baskets b ON a.bid = b.bid AND a.item <> b.item
  GROUP BY 1, 2)
SELECT antecedent, consequent, n_ab,
       na.n AS n_a, nb.n AS n_b,
       (SELECT n_baskets FROM tot) AS n_baskets,
       CAST(n_ab AS DOUBLE) / CAST(na.n AS DOUBLE) AS confidence,
       CAST(n_ab * (SELECT n_baskets FROM tot) AS DOUBLE)
         / CAST(na.n * nb.n AS DOUBLE) AS lift
FROM pairs
JOIN item_n na ON na.item = antecedent
JOIN item_n nb ON nb.item = consequent
""",
    "benford_digits": """
WITH counts AS (
  SELECT substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   1, 1) AS digit,
         count(*) AS n
  FROM orders WHERE isfinite(o_totalprice) AND o_totalprice >= 1
  GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT digit, n,
       CAST(n AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
         AS obs_share,
       CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6)
            AS BIGINT) AS benford_e6
FROM counts
""",
    "dq_audit": """
WITH o_dup AS (
  SELECT COALESCE(SUM(c - 1), 0) AS v FROM (
    SELECT count(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1),
li_dup AS (
  SELECT COALESCE(SUM(c - 1), 0) AS v FROM (
    SELECT count(*) AS c FROM lineitem
    GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey) WHERE c > 1),
li_n AS (SELECT count(*) AS n FROM lineitem),
o_n AS (SELECT count(*) AS n FROM orders),
fk_lo AS (SELECT count(*) AS v FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
fk_lp AS (SELECT count(*) AS v FROM lineitem l
          WHERE l.l_partkey IS NOT NULL
            AND l.l_partkey NOT IN (SELECT p_partkey FROM part)),
fk_oc AS (SELECT count(*) AS v FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
scan AS (
  SELECT count(*) AS n,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_null,
         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v_domain
  FROM lineitem)
SELECT 'orders PK unique' AS constraint, (SELECT n FROM o_n) AS n_checked,
       CAST((SELECT v FROM o_dup) AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem PK unique', (SELECT n FROM li_n),
       CAST((SELECT v FROM li_dup) AS BIGINT)
UNION ALL
SELECT 'lineitem->orders FK', (SELECT n FROM li_n),
       (SELECT v FROM fk_lo)
UNION ALL
SELECT 'lineitem->part FK', (SELECT n FROM li_n),
       (SELECT v FROM fk_lp)
UNION ALL
SELECT 'orders->customer FK', (SELECT n FROM o_n),
       (SELECT v FROM fk_oc)
UNION ALL
SELECT 'lineitem.l_orderkey NOT NULL', (SELECT n FROM scan),
       (SELECT v_null FROM scan)
UNION ALL
SELECT 'lineitem.l_quantity > 0', (SELECT n FROM scan),
       (SELECT v_domain FROM scan)
""",
    "histogram_equidepth": """
WITH li AS (
  -- r12: exact int64 cents + deci-cent boundary quantization (the
  -- engines' linear interpolations differ in the last ulp — see the
  -- engine docstring)
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         l_extendedprice AS x
  FROM lineitem WHERE isfinite(l_extendedprice)),
bs AS (
  SELECT list_transform(
           quantile_cont(c, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           b -> CAST(round(b * 10) AS BIGINT)) AS b
  FROM li),
binned AS (
  SELECT CAST(len(list_filter((SELECT b FROM bs),
                              bq -> c * 10 > bq)) AS INTEGER) AS bin,
         x
  FROM li)
SELECT bin, count(*) AS n, min(x) AS lo, max(x) AS hi
FROM binned GROUP BY bin
""",
    "group_percentiles": """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS q1,
       quantile_cont(l_extendedprice, 0.5) AS median,
       quantile_cont(l_extendedprice, 0.75) AS q3,
       count(*) AS n
FROM lineitem WHERE isfinite(l_extendedprice) GROUP BY l_returnflag
""",
    "distribution_drift": """
WITH o AS (
  SELECT (o_orderkey % 2 = 0) AS is_base,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE isfinite(o_totalprice)
),
edges AS (
  SELECT [quantile_cont(CAST(cents AS DOUBLE), 0.1),
          quantile_cont(CAST(cents AS DOUBLE), 0.2),
          quantile_cont(CAST(cents AS DOUBLE), 0.3),
          quantile_cont(CAST(cents AS DOUBLE), 0.4),
          quantile_cont(CAST(cents AS DOUBLE), 0.5),
          quantile_cont(CAST(cents AS DOUBLE), 0.6),
          quantile_cont(CAST(cents AS DOUBLE), 0.7),
          quantile_cont(CAST(cents AS DOUBLE), 0.8),
          quantile_cont(CAST(cents AS DOUBLE), 0.9)] AS es
  FROM o WHERE is_base
),
bucketed AS (
  SELECT is_base,
         CAST(list_sum(list_transform(es, e ->
           CASE WHEN CAST(cents AS DOUBLE) > e THEN 1 ELSE 0 END))
           AS INT) AS bucket
  FROM o, edges
),
counts AS (
  SELECT bucket,
         count(CASE WHEN is_base THEN 1 END) AS n_base,
         count(CASE WHEN NOT is_base THEN 1 END) AS n_cand
  FROM bucketed GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
         CAST(SUM(n_cand) AS BIGINT) AS tc
  FROM counts
)
SELECT bucket, n_base, n_cand,
       CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE) AS share_base,
       CAST(n_cand AS DOUBLE) / CAST(tc AS DOUBLE) AS share_cand,
       (CAST(n_cand AS DOUBLE) / CAST(tc AS DOUBLE)
        - CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE))
       * (CAST(n_cand AS DOUBLE) / CAST(tc AS DOUBLE)
          - CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE))
       / (CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE)) AS chi2_term
FROM counts, tot
""",
    "nested_order_records": """
WITH items AS (
  SELECT l_orderkey,
         l_linenumber AS lineno, l_partkey AS partkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_partkey IS NOT NULL AND isfinite(l_extendedprice)
),
nested AS (
  SELECT l_orderkey,
         list((lineno, partkey, cents)
              ORDER BY lineno, partkey, cents) AS items,
         count(*) AS n_items,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM items GROUP BY l_orderkey
)
SELECT l_orderkey AS orderkey,
       CAST(n_items AS INT) AS n_items,
       total_cents,
       list_aggregate(
         list_transform(items, x ->
           CAST(x[1] AS VARCHAR) || ':' || CAST(x[2] AS VARCHAR)
             || ':' || CAST(x[3] AS VARCHAR)),
         'string_agg', ',') AS items_csv
FROM nested
""",
    "moments_value": f"""
WITH d AS (
  SELECT event_type,
         CAST(CAST(floor(value) AS BIGINT) AS HUGEINT) AS d
  FROM events
  WHERE isfinite(value)
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(d) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(d * d) AS DECIMAL(38,0)) AS s2,
         CAST(SUM(d * d * d) AS DECIMAL(38,0)) AS s3,
         CAST(SUM(d * d * d * d) AS DECIMAL(38,0)) AS s4
  FROM d GROUP BY event_type
)
SELECT event_type, n,
       CAST(s1 AS VARCHAR) AS s1,
       CAST(s2 AS VARCHAR) AS s2,
       CAST(s3 AS VARCHAR) AS s3,
       CAST(s4 AS VARCHAR) AS s4,
       {_MOMENTS_EXPRS["skewness"]} AS skewness,
       {_MOMENTS_EXPRS["kurtosis"]} AS kurtosis
FROM stats
""",
    "corr_measures": """
WITH d AS (
  SELECT l_returnflag,
         -- TRUNC: Spark/Java double->int casts truncate toward zero;
         -- DuckDB CAST rounds half-even (r12 fractional-qty finding)
         CAST(TRUNC(l_quantity) AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
           AS y
  FROM lineitem
  WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
),
stats AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM d GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_qty_price
FROM stats
""",
    "winsorize_values": """
WITH pct AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events WHERE isfinite(value) GROUP BY event_type
),
j AS (
  SELECT e.event_type, e.value, p.lo, p.hi,
         least(greatest(e.value, p.lo), p.hi) AS clipped
  FROM events e JOIN pct p USING (event_type)
  WHERE isfinite(e.value)
)
SELECT event_type,
       count(*) AS n,
       count(CASE WHEN value < lo THEN 1 END) AS n_clip_lo,
       count(CASE WHEN value > hi THEN 1 END) AS n_clip_hi,
       CAST(SUM(CAST(CAST(clipped AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_winsorized
FROM j GROUP BY event_type
""",
    "outliers_mad": """
WITH li AS (
  -- r12 finite-measure contract (engine filters the shared scan)
  SELECT * FROM lineitem WHERE isfinite(l_extendedprice)
),
med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM li GROUP BY l_returnflag
),
dev AS (
  SELECT l.l_returnflag, m.med,
         abs(l.l_extendedprice - m.med) AS adev
  FROM li l JOIN med m USING (l_returnflag)
),
mad AS (
  SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY l_returnflag
)
SELECT d.l_returnflag,
       count(*) AS n,
       min(d.med) AS med,
       min(a.mad) AS mad,
       count(*) FILTER (WHERE 0.6745 * d.adev > 3.5 * a.mad) AS n_outliers
FROM dev d JOIN mad a USING (l_returnflag)
GROUP BY d.l_returnflag
""",
    "regression_trend": f"""
WITH d AS (
  SELECT o_orderpriority,
         date_diff('day', TIMESTAMP '{TREND_EPOCH} 00:00:00',
                   CAST(o_orderdate AS TIMESTAMP)) AS x,
         -- exact integer cents: int64 -> double is correctly rounded in
         -- both engines, unlike DuckDB's double-rounding DECIMAL cast
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND isfinite(o_totalprice)
),
stats AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(yc) AS BIGINT) AS syc,
         CAST(SUM(CAST(x AS BIGINT) * yc) AS BIGINT) AS sxyc,
         CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT) AS sxx
  FROM d GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       ((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(syc AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / CAST(100 AS DOUBLE)
         AS slope,
       (CAST(syc AS DOUBLE) / CAST(100 AS DOUBLE)
        - (((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(syc AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           / CAST(100 AS DOUBLE))
          * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept
FROM stats
""",
    "rollup_agg": """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE isfinite(l_quantity)
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "cube_agg": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE isfinite(o_totalprice)
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "pivot_status": """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_f,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS total_o,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS total_p
FROM orders
WHERE isfinite(o_totalprice)
GROUP BY 1
""",
    "above_cust_avg": """
WITH avgs AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS cust_avg
  FROM orders WHERE isfinite(o_totalprice) GROUP BY 1
)
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
FROM orders JOIN avgs ON o_custkey = ck
WHERE isfinite(o_totalprice) AND o_totalprice > cust_avg
""",
    "window_rank": """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rn <= 3
""",
    "window_lag": """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       o_totalprice - lag(o_totalprice) OVER w AS price_delta,
       lead(o_orderkey) OVER w AS next_orderkey
FROM orders
WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  AND isfinite(o_totalprice)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "window_moving": """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS moving_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / count(*) OVER w AS moving_avg
FROM orders
WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  AND isfinite(o_totalprice)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
    "topk_orders": """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
""",
    "set_union": f"{_SETOP_A} UNION {_SETOP_B}",
    "set_intersect": f"{_SETOP_A} INTERSECT {_SETOP_B}",
    "set_except": f"{_SETOP_A} EXCEPT {_SETOP_B}",
    "scalar_string_math": """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 4) AS name_pre,
       CAST(length(p_name) AS INT) AS name_len,
       p_brand || '/' || p_type AS brand_type,
       replace(p_name, ' ', '_') AS name_snake,
       abs(p_size - 25) AS size_dev,
       p_partkey % 7 AS key_mod,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(round(p_retailprice * 10) AS BIGINT) / 10.0 AS price_round,
       CASE WHEN p_retailprice >= 0 THEN sqrt(p_retailprice) END
         AS price_sqrt,
       CAST(greatest(p_size, 10) AS INT) AS size_min10
FROM part
""",
    "scalar_date": """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(dayofmonth(o_orderdate) AS INT) AS dom,
       CAST(isodow(o_orderdate) AS INT) AS isodow,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT)
         AS days_to_1999,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
""",
    "json_map_explode": """
WITH kv AS (
  SELECT unnest(json_keys(props)) AS pkey, props FROM events
),
typed AS (
  SELECT pkey,
         CAST(json_extract_string(props, '$.' || pkey) AS BIGINT) AS pval
  FROM kv
)
SELECT pkey, pval % 5 AS bucket, count(*) AS n,
       CAST(SUM(pval) AS BIGINT) AS sum_val
FROM typed
GROUP BY 1, 2
""",
    "json_extract": """
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE isfinite(value)
GROUP BY 1, 2
""",
}
