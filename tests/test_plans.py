"""Physical-plan assertions: the engine's promises about HOW queries
execute, not just what they return.

The 100 TB design claims (SCALE.md, module docstrings) are checkable on
the optimized plan Catalyst produces — broadcast join for dim tables,
parquet filter pushdown + column pruning, partial (map-side) aggregation,
TakeOrdered for top-k instead of a global sort, semi/anti join selection,
whole-stage codegen coverage. A regression here silently turns a
cluster-safe plan into a shuffle storm long before any wall-clock test
would notice at local scale, so the plan IS the contract under test.

The main check is the plan census (``test_census``, table in
``plan_census.py``). For one query at one scale factor it counts the
costly physical operators — exchanges by partitioning, broadcasts, joins
by strategy and non-inner join type, aggregates, sorts, windows, top-k,
generators, Python evals and scans — each tree node once, summed over
the query's outer plan and every frame the package materializes while
building it. Every materialization (``fixpoint.keep``, ``hold``, ``cut``
and each ``RoundState`` round) goes through ``localCheckpoint``
(tests/test_single_primitive.py), so the census sees kept subtrees and
the iterative fixpoints round by round, not just the leaves they leave
in the outer plan. The counts must equal the table's row exactly.

The other tests assert what counts cannot state: pushed filters, pruned
columns, partial aggregation, partition keys, operator order, dynamic
partition pruning, bucketing and codegen. Plans are built at sf0.001
(a few size-dependent rows also at sf0.01); the fixpoints run their
loops while they are built.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import re
from collections import Counter
from unittest import mock

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from mapreduce_sssp_spark.operators import relational as R
from mapreduce_sssp_spark.queries_registry import QUERIES
from plan_census import CENSUS

SF = "/root/testdata/sf0.001"
SF_KEY = os.path.basename(SF)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# One tree line: drawing prefix, optional codegen stage, node name and
# its first argument word.
_NODE = re.compile(r"[ :|+-]*(?:\*\(\d+\) )?(\w+)(?: (\w+))?")
_JOIN_TYPE = re.compile(
    r", (LeftSemi|LeftAnti|LeftOuter|RightOuter|FullOuter|ExistenceJoin)\b"
)
_COSTLY = re.compile(
    r"BroadcastExchange|\w+Join|CartesianProduct|\w*Aggregate|Sort"
    r"|Window|WindowGroupLimit|TakeOrderedAndProject|Generate|Expand|Union"
    r"|InMemoryTableScan|\w*(Python|Pandas|Arrow)\w*"
)
_SUBQUERY = re.compile(r"[ :|+-]*Subquery\w* (\w+#\d+)")


def node_key(line: str) -> str | None:
    """The census key of one plan-tree line, or None if not counted:
    ``Exchange hash|single|range|roundrobin``, ``Scan <source>``, a join
    strategy with its type unless inner, else the operator's name."""
    m = _NODE.match(line)
    if not m:
        return None
    name, arg = m.groups()
    if name == "Exchange":
        kind = re.match(r"(\w+?)partition", arg or "", re.I)
        return f"Exchange {kind.group(1).lower() if kind else arg}"
    if name in ("FileScan", "Scan"):
        return f"Scan {arg}"
    if not _COSTLY.fullmatch(name):
        return None
    join = _JOIN_TYPE.search(line) if name.endswith("Join") else None
    return f"{name} {join.group(1)}" if join else name


def census(trees) -> Counter:
    """Count each counted node of the given plan trees once. A scan's
    pushed filter prints a second copy of a subquery it reads, which
    runs once: only the first copy is counted."""
    counts = Counter()
    for t in trees:
        seen, skip = set(), None
        for line in t.splitlines():
            depth = len(line) - len(line.lstrip(" :|+-"))
            if skip is not None and depth > skip:
                continue
            skip = None
            sub = _SUBQUERY.match(line)
            if sub and sub.group(1) in seen:
                skip = depth
            elif sub:
                seen.add(sub.group(1))
            elif key := node_key(line):
                counts[key] += 1
    return counts


def tree(df) -> str:
    """The physical plan tree, one line per node (before any execution,
    so an adaptive plan shows its initial form)."""
    return df._jdf.queryExecution().executedPlan().treeString()


@functools.cache
def observe(spark, name: str, sf: str) -> tuple[Counter, str]:
    """Build registry query ``name`` at ``sf`` the way the bench does
    (``bench.prepare`` first, so shared states it reads are in place and
    states it owns are rebuilt), capturing the plan of every frame
    materialized during the build. Returns the census and the trees as
    one text, the outer plan last."""
    from bench import prepare

    sf_dir = os.path.join(os.path.dirname(SF), sf)
    prepare(spark, sf_dir, name)
    trees = []
    materialize = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        trees.append(tree(self))
        return materialize(self, *args, **kwargs)

    with mock.patch.object(DataFrame, "localCheckpoint", spy):
        df = QUERIES[name](spark, sf_dir)
    trees.append(tree(df))
    return census(trees), "\n".join(trees)


def check_row(spark, name: str, sf: str = SF_KEY) -> str:
    """Assert query ``name``'s census at ``sf`` equals its table row;
    return its plan text for further assertions."""
    counts, plan = observe(spark, name, sf)
    assert counts == CENSUS[name].get(sf), (
        f"plan census of {name} at {sf} changed; if intended, paste into "
        f'plan_census.py under "{name}":\n'
        f'        "{sf}": {json.dumps(counts, sort_keys=True)},'
    )
    return plan


@pytest.mark.parametrize(
    "name,sf", [(name, sf) for name, rows in CENSUS.items() for sf in rows]
)
def test_census(spark, name, sf):
    check_row(spark, name, sf)


# Plans restructured in rounds 12-13, whose explain dumps the census
# replaces (sssp_round and label_propagation_rounds were dumps of sssp
# and label_propagation), and every loop on fixpoint.converge or
# RoundState.
RESTRUCTURED = """
    betweenness_source_dag bootstrap_ci_mean cogroup_user_activity
    community_modularity edge_jaccard geo_dbscan_core histogram_equidepth
    label_propagation negative_sampling order_gaps outliers_mad
    pyds_edges_roundtrip pyds_edges_writer_roundtrip spearman_corr sssp
    sssp_paths_dag two_hop_paths two_hop_paths_capped walk_pmi_pairs
    wl_relabel
""".split()
LOOPS = """
    sssp wcc kcore ktruss pagerank hits_scores mis_greedy label_propagation
    scc
""".split()


def test_census_table_is_well_formed_and_covers_the_loops():
    assert set(CENSUS) <= set(QUERIES)
    sfs = {sf for rows in CENSUS.values() for sf in rows}
    assert all(os.path.isdir(os.path.join(os.path.dirname(SF), sf)) for sf in sfs)
    assert not set(RESTRUCTURED + LOOPS) - set(CENSUS)
    assert "sf0.01" in CENSUS["geo_dbscan_core"]  # broadcasts flip with size


# Plan tests that asserted operator facts only, under their old names so
# a failure still names the claim: each checks the census rows of the
# queries it was written for, and its claim is one of their counts.
FOLDED = {
    "test_join_inner_broadcasts_dim_and_never_cartesian": ["join_inner"],
    "test_semi_and_anti_join_strategies": ["join_semi", "join_anti"],
    "test_topk_is_take_ordered_not_global_sort": ["topk_orders"],
    "test_window_uses_single_partition_exchange_per_key": ["window_rank"],
    "test_range_join_broadcasts_interval_dim": ["range_join_bands"],
    "test_similarity_topk_broadcasts_query_vectors": ["similarity_topk"],
    "test_chunk_documents_is_map_side_only": ["chunk_documents"],
    "test_unpivot_is_generator_only_no_exchange": ["unpivot_measures"],
    "test_q4_exists_plans_as_semi_join": ["sql_tpch_q4"],
    "test_q22_not_exists_plans_as_anti_join": ["sql_tpch_q22"],
    "test_dedup_incremental_is_anti_join_on_digest": ["dedup_incremental"],
    "test_q19_or_bands_stay_equi_join": ["sql_tpch_q19"],
    "test_q21_double_decorrelation": ["sql_tpch_q21"],
    "test_decontaminate_broadcasts_benchmark_shingles": ["decontaminate_ngrams"],
    "test_domain_mix_fact_scan_never_shuffles": ["domain_mix_sample"],
    "test_tpch_q2_q20_decorrelate_without_cartesian": [
        "sql_tpch_q2", "sql_tpch_q11", "sql_tpch_q20"
    ],
    "test_scd2_plans_one_user_exchange": ["scd2_intervals"],
    "test_percent_rank_norm_single_exchange": ["percent_rank_norm"],
    "test_weighted_sample_no_shuffle_broadcast_scalar": ["weighted_sample"],
    "test_heavy_hitters_take_ordered_not_global_sort": ["heavy_hitters"],
    "test_bigram_lift_take_ordered_and_broadcast_total": ["bigram_lift"],
    "test_profile_columns_single_scan_with_expand": ["profile_columns"],
    "test_chi2_cells_broadcasts_marginals": ["chi2_cells"],
    "test_session_paths_one_sort_take_ordered": ["session_paths"],
    "test_seasonality_dow_single_scan_window_total": ["seasonality_dow"],
    "test_anomaly_zscore_one_window_one_exchange": ["anomaly_zscore"],
    "test_kmeans_update_broadcast_argmin_no_window": ["kmeans_update"],
    "test_trigram_lm_single_scan_window_prefix": ["trigram_lm"],
    "test_feature_hash_map_side_single_exchange": ["feature_hash"],
    "test_gini_one_window_sort_per_type": ["gini_value"],
    "test_length_buckets_single_scan_map_side_bucket": ["length_buckets"],
    "test_class_weights_window_over_aggregate_not_second_scan": ["class_weights"],
    "test_skipgram_single_scan_take_ordered": ["skipgram_pairs"],
    "test_active_users_single_scan_conditional_distinct": ["active_users"],
    "test_embedding_quantize_map_side_no_wide_shuffle": ["embedding_quantize"],
    "test_rfm_no_global_sort_broadcast_thresholds": ["rfm_segments"],
    "test_two_hop_paths_no_cartesian_no_bnlj": ["two_hop_paths"],
    "test_join_null_skew_bypasses_join_for_null_keys": ["join_null_skew"],
    "test_token_source_pmi_broadcasts_shortlist_and_marginals": [
        "token_source_pmi"
    ],
    "test_attribution_position_based_no_cartesian": ["attribution_position_based"],
    "test_basket_rules_broadcasts_dim_and_counts": ["basket_rules"],
    "test_lateral_topk_decorrelates_to_window_group_limit": [
        "lateral_topk_segment"
    ],
}


def _folded(names):
    def test(spark):
        for name in names:
            check_row(spark, name)

    return test


globals().update((test, _folded(names)) for test, names in FOLDED.items())

NO_CARTESIAN = """
    join_left join_full grouping_sets_agg window_ntile distinct_pairs
    rollup_agg cube_agg pivot_status above_cust_avg window_lag window_moving
    set_union set_intersect set_except scalar_string_math scalar_date
    json_extract json_map_explode dedup_exact text_stats text_quality lang_id
    window_tumbling window_sliding window_session sql_tpch_q1 sql_tpch_q4
    sql_tpch_q6 sql_tpch_q14 sql_tpch_q16 sql_tpch_q22 sql_tpch_q12
    sql_tpch_q19 sql_tpch_q21 map_literal_decode collect_set_flags
    price_histogram text_repetition dedup_incremental group_percentiles
    outliers_mad approx_topk_items bpe_encode ks_two_sample
    js_divergence_sources rank_fusion_rrf unigram_doc_logprob
    calibration_bins lift_deciles bounce_rate_sessions holt_winters_smoothing
    tokenizer_fertility zone_map_pruning quantile_normalization
""".split()


@pytest.mark.parametrize("qname", NO_CARTESIAN)
def test_no_cartesian_products_anywhere(spark, qname):
    check_row(spark, qname)


def test_agg_multi_pushes_filter_prunes_columns_partial_agg(spark):
    plan = check_row(spark, "agg_multi")
    # Predicate reaches the parquet scan (l_shipdate <= cutoff).
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1]
    # Column pruning: Q1 reads 7 of lineitem's 11 columns; the unused id
    # columns must not appear in the scan's ReadSchema.
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # Under AQE the pre-execution plan hides codegen; plan once with AQE
    # off to assert the scan->filter->partial-agg pipeline fuses.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        codegen = plan_of(R.q_agg_multi(spark, SF), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in codegen
    assert "Found 0 WholeStageCodegen" not in codegen


def test_outliers_mad_broadcasts_group_medians(spark):
    """Both per-group median tables (a handful of rows) must broadcast
    back onto the fact — the fact table itself never rides a join
    shuffle (the census row) — and the kept fact scan must prune to the
    two referenced columns."""
    plan = check_row(spark, "outliers_mad")
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" in read_schema and "l_partkey" not in read_schema


def test_dynamic_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """Joining a status-partitioned fact with a filtered dim must inject
    a dynamicpruning subquery on the partition column, so at 100 TB the
    scan reads one partition directory, not all of them."""
    from pyspark.sql import functions as F

    from mapreduce_sssp_spark.io.sinks import write_partitioned
    from mapreduce_sssp_spark.io.sources import load_table

    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_by_status")
    write_partitioned(orders, path, "o_orderstatus")
    fact = spark.read.parquet(path)

    dim = spark.createDataFrame(
        [("F", 1), ("O", 2), ("P", 3)], "status string, weight int"
    ).where(F.col("weight") == 1)

    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        j = fact.join(dim, fact.o_orderstatus == dim.status).groupBy(
            "o_orderstatus"
        ).count()
        plan = plan_of(j, "extended")
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
        )


def test_bucketed_join_is_exchange_free(spark):
    """Two tables bucketed on the join key with matching bucket counts
    must sort-merge join with NO exchange on either side — the write
    paid the shuffle once; every future join on the key rides the
    bucket layout. Broadcast is disabled so the plan can't sidestep the
    assertion by broadcasting the small test table."""
    from mapreduce_sssp_spark.io.sinks import write_bucketed
    from mapreduce_sssp_spark.io.sources import load_table

    write_bucketed(load_table(spark, SF, "orders"), "bkt_orders_t", "o_custkey")
    write_bucketed(
        load_table(spark, SF, "customer"), "bkt_customer_t", "c_custkey"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("bkt_orders_t")
        c = spark.table("bkt_customer_t")
        j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
            "o_orderkey", "c_mktsegment"
        )
        counts = census([tree(j)])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders_t")
        spark.sql("DROP TABLE IF EXISTS bkt_customer_t")
    assert counts["SortMergeJoin"] == 1, counts
    assert not [k for k in counts if k.startswith("Exchange")], counts


def test_dedup_spans_elects_first_via_agg_not_window(spark):
    """Span-level dedup must elect first occurrences with a partial-
    aggregating groupBy + join-back, not a corpus-wide window (no Window
    in the census row): a span duplicated 10^9 times map-side combines
    in the agg, while a window would funnel every occurrence through
    one task."""
    plan = check_row(spark, "dedup_spans")
    # min(struct) plans as SortAggregate; the map-side combine is the
    # property that matters (hot spans collapse before the exchange).
    assert "partial_min" in plan, plan
    # The OUTER generate must have kept the span pipeline out of the
    # scan-level filter (InferFiltersFromGenerate pathology: a non-outer
    # Generate gets a size()>0 filter inferred and pushed into the scan
    # as a DataFilter re-evaluating tokenize+chunk per row).
    assert "DataFilters: [(" not in plan, plan


def test_kmeans_argmin_is_partial_agg_not_window(spark):
    """The n*K candidate set must collapse map-side (partial_min before
    the exchange), never sort through a row_number window; seeds ride a
    broadcast, so the only join is a broadcast nested loop (the census
    row)."""
    assert "partial_min" in check_row(spark, "kmeans_assign")


def test_pq_encode_keeps_kmeans_assign_shape(spark):
    """All four subspace argmins must collapse in ONE map-side partial
    aggregate over the broadcast codebook — no window, no shuffle-side
    join: the kmeans_assign contract, times four."""
    assert "partial_min" in check_row(spark, "embedding_pq_encode")


def _agg_inside_window(plan: str) -> bool:
    """The first aggregate sits below the first window in the tree,
    which prints the root first (these queries materialize nothing, so
    their plan text is the one outer tree)."""
    return plan.find("HashAggregate") > plan.find("Window")


def test_concurrent_shipments_sweeps_day_domain_only(spark):
    """The running-sum window runs AFTER the per-day aggregate: the
    single-partition exchange carries |days| rows, never the corpus."""
    assert _agg_inside_window(check_row(spark, "concurrent_shipments"))


def test_cohort_ltv_cumsum_after_aggregate(spark):
    """The running sum windows over the (cohort x offset) triangle,
    never over raw purchases."""
    assert _agg_inside_window(check_row(spark, "cohort_ltv"))


def test_join_skew_salted_is_a_shuffle_join_with_partial_agg(spark):
    """The salted join must NOT broadcast (a broadcast would make the
    demonstration vacuous; the census row has one ShuffledHashJoin) and
    the rollup must partial-aggregate."""
    assert "partial_" in check_row(spark, "join_skew_salted")


def test_nearest_join_single_exchange_sort_window(spark):
    """Both direction carries must ride ONE union + exchange + sort +
    Window operator (the census row) — the whole point of the
    formulation (composing the backward and forward joins would triple
    the exchanges) — with the event filters pushed to the scans."""
    plan = check_row(spark, "asof_join_nearest")
    assert "EqualTo(event_type,error)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_ohlc_bars_single_exchange(spark):
    """Both window passes and the final aggregate share the
    (event_type, hour) key — one shuffle exchange in the census row —
    and the final aggregate is map-side partial."""
    assert "partial_max" in check_row(spark, "ohlc_bars")


def test_histogram_equidepth_broadcasts_boundaries(spark):
    """The 1-row boundary array must broadcast (map-side binning) and
    the bin aggregate must be partial; the scan reads one column."""
    plan = check_row(spark, "histogram_equidepth")
    assert "partial_count" in plan or "partial_min" in plan
    assert "ReadSchema: struct<l_extendedprice:double>" in plan


def test_mann_whitney_runs_on_histogram_not_rows(spark):
    """One partial-aggregated corpus pass builds the (type, cents)
    histogram; every later stage (pair expansion, rank window, test
    stats) exchanges only histogram-sized data. The events scan must
    prune to 2 columns."""
    plan = check_row(spark, "mann_whitney_u")
    assert "partial_" in plan  # map-side combine on the corpus agg
    assert "event_id" not in plan  # pruned: only event_type + value read


def test_bootstrap_exchange_carries_replicates_not_rows(spark):
    """The xB explode must sit UPSTREAM of a partial hash aggregate in
    the same stage: the exchange after it carries B=32 groups per task,
    never the expanded corpus. r12 adds ONE RoundRobinPartitioning
    spread BEFORE the explode (load_parallel: the 32x md5 expansion
    otherwise runs on a single scan task) — that exchange carries the
    UN-expanded orders, so the invariant stands: no exchange anywhere
    carries the exploded corpus (the census row has the two)."""
    plan = check_row(spark, "bootstrap_ci_mean")
    above = plan.split("Generate explode", 1)[0].splitlines()
    nearest = next(k for k in map(node_key, reversed(above)) if k)
    assert nearest == "HashAggregate", plan
    assert "partial_sum" in plan


def test_skyline_fact_window_is_bucket_partitioned(spark):
    """The dominance running-max over the FACT rows must ride a
    hashpartitioning(bucket) exchange — a global un-partitioned window
    (one single task at 100 TB) is the bug this two-level decomposition
    exists to avoid. The only SinglePartition window allowed is the
    buckets-sized prefix carry (<= 32 rows)."""
    assert "hashpartitioning(bucket" in check_row(spark, "skyline_orders")


def test_kendall_pair_join_broadcasts_calendar(spark):
    """The day-pair self-join runs on the calendar-sized daily aggregate
    and must be a broadcast (BNLJ on the range predicate, the census
    row) — never a shuffle of row-level data; the corpus contributes
    exactly one partial-aggregated groupBy(day) pass."""
    plan = check_row(spark, "kendall_tau_daily")
    assert "partial_" in plan  # map-side combine on the daily agg
    assert "o_orderkey" not in plan  # pruned: only date + totalprice read


def test_ols_is_one_aggregate_pass_no_join(spark):
    """Closed-form OLS must stay a single scan → partial agg → final agg
    plan: no join, no window, no second pass over lineitem (the census
    row)."""
    assert "partial_" in check_row(spark, "ols_multifeature")


def test_weighted_median_window_rides_group_partition(spark):
    """The cumulative-weight window must be hash-partitioned on the
    group key (never SinglePartition) and run over histogram rows —
    the corpus collapses in one partial-aggregated pass first."""
    plan = check_row(spark, "weighted_median")
    assert "hashpartitioning(l_returnflag" in plan
    assert "partial_" in plan


@pytest.mark.parametrize(
    "qname",
    [
        "ngram_jaccard_pairs",
        "shingle_containment",
        "minhash_jaccard_error",
        "cross_source_contamination",
        "pipeline_clean_corpus",
    ],
)
def test_shingle_pair_queries_prune_hot_postings_before_join(spark, qname):
    """Every shingle-keyed pair query must compile the max-df posting
    prune (text_common.SHINGLE_MAX_DF) BELOW its self-join: the kept
    postings relation both join sides scan carries the df filter, so a
    boilerplate shingle can never reach the pair join (the d^2 guard;
    behavior proven on a crafted hot-shingle corpus in
    tests/test_shingle_prune.py)."""
    from mapreduce_sssp_spark.operators.text_common import SHINGLE_MAX_DF

    # Since r10 the prune is an ANTI join against the HOT shingle set
    # (df > cap, tiny/broadcastable) instead of an inner join against
    # the keep set — same filter, no postings shuffle. The kept postings
    # frame must carry the hot-set filter; the census row has the
    # LeftAnti join.
    assert f"> {SHINGLE_MAX_DF})" in check_row(spark, qname)


def test_negative_sampling_shard_ranks_no_global_sort_no_v_broadcast(spark):
    """The node rank table must be built with the two-pass shard-rank
    device: the row_number window rides hashpartitioning(shard) —
    never an unpartitioned Window.orderBy over every node (a single
    sort task at 100 TB) — and the only SinglePartition exchange is
    the GLOBAL_ID_SHARDS-row offsets carry (the census row). The
    |V|-sized rank table must carry no forced broadcast hint (the idx
    join compiles as a shuffle join statically; AQE may still broadcast
    when it fits)."""
    assert "hashpartitioning(shard" in check_row(spark, "negative_sampling")


def test_walk_pmi_only_scalar_broadcast_hints(spark):
    """The |nodes|-sized occurrence table must join back WITHOUT a
    forced broadcast (r8 verdict: a billion-node occ table cannot
    ship to every executor; AQE may still broadcast at runtime when it
    fits). The only broadcast hints allowed in the optimized logical
    plan are the two 1-row scalar totals (n_occ_tot, t_tot)."""
    from mapreduce_sssp_spark.operators import graph_queries as GQ

    df = GQ.q_walk_pmi_pairs(spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("strategy=broadcast") <= 2, logical
    spark.catalog.clearCache()
