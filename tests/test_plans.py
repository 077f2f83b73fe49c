"""Physical-plan assertions: the engine's promises about HOW queries
execute, not just what they return.

The 100 TB design claims (SCALE.md, module docstrings) are checkable on
the optimized plan Catalyst produces — broadcast join for dim tables,
parquet filter pushdown + column pruning, partial (map-side) aggregation,
TakeOrdered for top-k instead of a global sort, semi/anti join selection,
whole-stage codegen coverage. A regression here silently turns a
cluster-safe plan into a shuffle storm long before any wall-clock test
would notice at local scale, so the plan IS the contract under test.

Plans are built lazily at sf0.001 — no job runs except where a query's
constructor itself acts (those queries are excluded here; the iterative
fixpoints get algorithmic tests in test_sssp/test_pagerank instead).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from mapreduce_sssp_spark.operators import relational as R

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def see_through_keep(monkeypatch) -> None:
    """Build queries with fixpoint.keep as a no-op, for assertions about
    the subtree a kept frame is built from: a kept frame is a flat leaf,
    so the consumer's plan does not show what is inside it."""
    from mapreduce_sssp_spark.graph import fixpoint

    monkeypatch.setattr(fixpoint, "hold", lambda df: df)


def test_join_inner_broadcasts_dim_and_never_cartesian(spark):
    plan = plan_of(R.q_join_inner(spark, SF))
    assert "BroadcastHashJoin" in plan  # nation (25 rows) must broadcast
    assert "CartesianProduct" not in plan


def test_semi_and_anti_join_strategies(spark):
    semi = plan_of(R.q_join_semi(spark, SF))
    anti = plan_of(R.q_join_anti(spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    assert "CartesianProduct" not in semi + anti


def test_agg_multi_pushes_filter_prunes_columns_partial_agg(spark):
    plan = plan_of(R.q_agg_multi(spark, SF))
    # Predicate reaches the parquet scan (l_shipdate <= cutoff).
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1]
    # Column pruning: Q1 reads 7 of lineitem's 11 columns; the unused id
    # columns must not appear in the scan's ReadSchema.
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # Partial + final hash aggregation (map-side combine), fused in codegen.
    assert plan.count("HashAggregate") >= 2
    # Under AQE the pre-execution plan hides codegen; plan once with AQE
    # off to assert the scan->filter->partial-agg pipeline fuses.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        codegen = plan_of(R.q_agg_multi(spark, SF), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in codegen
    assert "Found 0 WholeStageCodegen" not in codegen


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(R.q_topk(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan
    # A global sort would show a range-partitioning exchange.
    assert "rangepartitioning" not in plan.lower()


def test_window_uses_single_partition_exchange_per_key(spark):
    plan = plan_of(R.q_window_rank(spark, SF), "simple")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_range_join_broadcasts_interval_dim(spark):
    from mapreduce_sssp_spark.operators import scale_patterns as S

    plan = plan_of(S.q_range_join_bands(spark, SF), "simple")
    # Non-equi join against a tiny interval dim: broadcast nested loop is
    # the intended strategy — NOT a shuffled cartesian.
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_similarity_topk_broadcasts_query_vectors(spark):
    from mapreduce_sssp_spark.operators import similarity as SIM

    plan = plan_of(SIM.q_similarity_topk(spark, SF), "simple")
    assert "Broadcast" in plan  # tiny query-vector side never shuffles the corpus
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "qname",
    [
        "join_left",
        "join_full",
        "grouping_sets_agg",
        "window_ntile",
        "distinct_pairs",
        "rollup_agg",
        "cube_agg",
        "pivot_status",
        "above_cust_avg",
        "window_lag",
        "window_moving",
        "set_union",
        "set_intersect",
        "set_except",
        "scalar_string_math",
        "scalar_date",
        "json_extract",
        "json_map_explode",
        "dedup_exact",
        "text_stats",
        "text_quality",
        "lang_id",
        "window_tumbling",
        "window_sliding",
        "window_session",
        "sql_tpch_q1",
        "sql_tpch_q4",
        "sql_tpch_q6",
        "sql_tpch_q14",
        "sql_tpch_q16",
        "sql_tpch_q22",
        "sql_tpch_q12",
        "sql_tpch_q19",
        "sql_tpch_q21",
        "map_literal_decode",
        "collect_set_flags",
        "price_histogram",
        "text_repetition",
        "dedup_incremental",
        "group_percentiles",
        "outliers_mad",
        "approx_topk_items",
        "bpe_encode",
        "ks_two_sample",
        "js_divergence_sources",
        "rank_fusion_rrf",
        "unigram_doc_logprob",
        "calibration_bins",
        "lift_deciles",
        "bounce_rate_sessions",
        "holt_winters_smoothing",
        "tokenizer_fertility",
        "zone_map_pruning",
        "quantile_normalization",
    ],
)
def test_no_cartesian_products_anywhere(spark, qname):
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES[qname](spark, SF), "simple")
    assert "CartesianProduct" not in plan


def test_outliers_mad_broadcasts_group_medians(spark, monkeypatch):
    """Both per-group median tables (a handful of rows) must broadcast
    back onto the fact — the fact table itself never rides a join
    shuffle — and the scan must prune to the two referenced columns."""
    plan = plan_of(R.q_outliers_mad(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    see_through_keep(monkeypatch)
    plan = plan_of(R.q_outliers_mad(spark, SF))
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


def test_chunk_documents_is_map_side_only(spark):
    """Chunking must be scan -> project -> generate with ZERO exchanges:
    a reshape that shuffled 100 TB of chunk rows for a per-document
    transform would be wrong by construction."""
    from mapreduce_sssp_spark.operators.sampling import q_chunk_documents

    plan = plan_of(q_chunk_documents(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_unpivot_is_generator_only_no_exchange(spark):
    """unpivot must expand in the scan's projection (Expand node), never
    shuffle — wide->long of a 100 TB fact would otherwise quadruple
    shuffle volume for a reshape that needs none."""
    from mapreduce_sssp_spark.operators.relational import q_unpivot_measures

    plan = plan_of(q_unpivot_measures(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Expand" in plan, plan


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
        plan = plan_of(j, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders_t")
        spark.sql("DROP TABLE IF EXISTS bkt_customer_t")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_q4_exists_plans_as_semi_join(spark):
    """The correlated EXISTS in Q4 must decorrelate to a left-semi join,
    never a per-row subquery or a cartesian."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["sql_tpch_q4"](spark, SF), "simple")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_q22_not_exists_plans_as_anti_join(spark):
    """Q22's NOT EXISTS must decorrelate to an anti join."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["sql_tpch_q22"](spark, SF), "simple")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_dedup_incremental_is_anti_join_on_digest(spark):
    """Incremental dedup must anti-join on the 32-byte digest (shuffle
    is O(rows x digest), never document bodies through the exchange)."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["dedup_incremental"](spark, SF), "simple")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q19_or_bands_stay_equi_join(spark):
    """Q19's OR-ed predicate bands must plan as the partkey equi-join
    with the disjunction as a residual filter — not a cartesian."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["sql_tpch_q19"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_q21_double_decorrelation(spark):
    """Q21's EXISTS and NOT EXISTS must both decorrelate to joins."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["sql_tpch_q21"](spark, SF), "simple")
    assert "LeftSemi" in plan or "ExistenceJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The contamination sweep must broadcast the (tiny, fixed)
    benchmark shingle set — the corpus side joins map-side and never
    shuffles. A shuffled join here would move the whole corpus at
    100 TB."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["decontaminate_ngrams"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_dedup_spans_elects_first_via_agg_not_window(spark):
    """Span-level dedup must elect first occurrences with a partial-
    aggregating groupBy + join-back, not a corpus-wide window: a span
    duplicated 10^9 times map-side combines in the agg, while a window
    would funnel every occurrence through one task."""
    from mapreduce_sssp_spark.queries_registry import QUERIES

    plan = plan_of(QUERIES["dedup_spans"](spark, SF), "simple")
    assert "Window" not in plan, plan
    # min(struct) plans as SortAggregate; the map-side combine is the
    # property that matters (hot spans collapse before the exchange).
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan
    # The OUTER generate must have kept the span pipeline out of the
    # scan-level filter (InferFiltersFromGenerate pathology: a non-outer
    # Generate gets a size()>0 filter inferred and pushed into the scan
    # as a DataFilter re-evaluating tokenize+chunk per row).
    assert "DataFilters: [(" not in plan, plan
    spark.catalog.clearCache()


def test_kmeans_argmin_is_partial_agg_not_window(spark):
    """The n*K candidate set must collapse map-side (partial_min before
    the exchange), never sort through a row_number window."""
    from mapreduce_sssp_spark.operators.similarity import q_kmeans_assign

    plan = plan_of(q_kmeans_assign(spark, SF))
    assert "Window" not in plan
    assert "partial_min" in plan
    # Seeds ride a broadcast: the only join is a broadcast nested loop.
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_pq_encode_keeps_kmeans_assign_shape(spark):
    """All four subspace argmins must collapse in ONE map-side partial
    aggregate over the broadcast codebook — no window, no shuffle-side
    join: the kmeans_assign contract, times four."""
    from mapreduce_sssp_spark.operators.similarity import (
        q_embedding_pq_encode,
    )

    plan = plan_of(q_embedding_pq_encode(spark, SF))
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_domain_mix_fact_scan_never_shuffles(spark):
    """Rates join back to documents via broadcast; the only exchanges in
    the plan belong to the tiny per-source/total aggregates, never to the
    kept-documents output path (no exchange between the documents scan
    and the final filter/project)."""
    from mapreduce_sssp_spark.operators.sampling import q_domain_mix_sample

    plan = plan_of(q_domain_mix_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_tpch_q2_q20_decorrelate_without_cartesian(spark):
    """The derived-partsupp correlated subqueries must plan as
    aggregate+join decorrelations (no cartesian, no per-row subquery)."""
    from mapreduce_sssp_spark.operators.relational import (
        q_sql_q2,
        q_sql_q11,
        q_sql_q20,
    )

    for q in (q_sql_q2, q_sql_q11, q_sql_q20):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__


def test_scd2_plans_one_user_exchange(spark):
    """Both window passes and the per-run aggregate share the user_id
    partitioning — Catalyst must plan exactly ONE shuffle."""
    from mapreduce_sssp_spark.operators.event_windows import (
        q_scd2_intervals,
    )

    plan = plan_of(q_scd2_intervals(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_percent_rank_norm_single_exchange(spark):
    from mapreduce_sssp_spark.operators.relational import (
        q_percent_rank_norm,
    )

    plan = plan_of(q_percent_rank_norm(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_sample_no_shuffle_broadcast_scalar(spark):
    """The keep-test is map-side: the only exchanges are the broadcast
    of the 1-row max aggregate (and its own single-partition agg)."""
    from mapreduce_sssp_spark.operators.sampling import q_weighted_sample

    plan = plan_of(q_weighted_sample(spark, SF), "simple")
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_take_ordered_not_global_sort(spark):
    from mapreduce_sssp_spark.operators.scale_patterns import (
        q_heavy_hitters,
    )

    plan = plan_of(q_heavy_hitters(spark, SF), "simple")
    assert "TakeOrdered" in plan


def test_bigram_lift_take_ordered_and_broadcast_total(spark):
    from mapreduce_sssp_spark.operators.text_analysis import q_bigram_lift

    plan = plan_of(q_bigram_lift(spark, SF), "simple")
    assert "TakeOrdered" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_profile_columns_single_scan_with_expand(spark):
    """All per-column profiling counters ride ONE parquet scan; the
    multi-distinct plans as a single Expand."""
    from mapreduce_sssp_spark.operators.relational import q_profile_columns

    plan = plan_of(q_profile_columns(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_chi2_cells_broadcasts_marginals(spark):
    from mapreduce_sssp_spark.operators.relational import q_chi2_cells

    plan = plan_of(q_chi2_cells(spark, SF), "simple")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_session_paths_one_sort_take_ordered(spark):
    """All four window functions share one (user_id)x(ts,event_id)
    sort; the top-20 is TakeOrdered, never a global sort."""
    from mapreduce_sssp_spark.operators.event_windows import q_session_paths

    plan = plan_of(q_session_paths(spark, SF), "simple")
    assert "TakeOrdered" in plan
    assert plan.count("Scan parquet") == 1
    # one exchange for the user window, one for the triple count
    assert plan.count("Exchange") <= 2


def test_seasonality_dow_single_scan_window_total(spark):
    """Per-type totals come from a window over the tiny (type, dow)
    aggregate — NOT a second corpus scan."""
    from mapreduce_sssp_spark.operators.event_windows import (
        q_seasonality_dow,
    )

    plan = plan_of(q_seasonality_dow(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan


def test_anomaly_zscore_one_window_one_exchange(spark):
    from mapreduce_sssp_spark.operators.event_windows import q_anomaly_zscore

    plan = plan_of(q_anomaly_zscore(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_kmeans_update_broadcast_argmin_no_window(spark):
    """Centroid recompute keeps the kmeans_assign shape: broadcast
    seeds, map-side argmin aggregate (never a window over the n*K
    candidate set), posexplode before the only wide exchange."""
    from mapreduce_sssp_spark.operators.similarity import q_kmeans_update

    plan = plan_of(q_kmeans_update(spark, SF), "simple")
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # posexplode


def test_trigram_lm_single_scan_window_prefix(spark):
    """Trigram AND prefix-bigram counts from ONE corpus scan (the
    NULL-extended pair emission); prefix totals are a window over the
    grouped Zipf-small domain; top-200 is TakeOrdered."""
    from mapreduce_sssp_spark.operators.text_analysis import q_trigram_lm

    plan = plan_of(q_trigram_lm(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "TakeOrdered" in plan
    assert "Window" in plan


def test_feature_hash_map_side_single_exchange(spark):
    from mapreduce_sssp_spark.operators.text_analysis import q_feature_hash

    plan = plan_of(q_feature_hash(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_concurrent_shipments_sweeps_day_domain_only(spark):
    """The running-sum window runs AFTER the per-day aggregate: the
    single-partition exchange carries |days| rows, never the corpus."""
    from mapreduce_sssp_spark.operators.relational import (
        q_concurrent_shipments,
    )

    plan = plan_of(q_concurrent_shipments(spark, SF), "simple")
    assert "Generate" in plan  # map-side 2-element delta explode
    assert plan.count("Exchange SinglePartition") == 1
    # the day aggregate (with partial) must appear BEFORE the window's
    # single-partition exchange in the plan tree (deeper = later line)
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos > win_pos  # window is outermost, agg is inside it


def test_gini_one_window_sort_per_type(spark):
    from mapreduce_sssp_spark.operators.relational import q_gini_value

    plan = plan_of(q_gini_value(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 1


def test_length_buckets_single_scan_map_side_bucket(spark):
    from mapreduce_sssp_spark.operators.sampling import q_length_buckets

    plan = plan_of(q_length_buckets(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_class_weights_window_over_aggregate_not_second_scan(spark):
    from mapreduce_sssp_spark.operators.sampling import q_class_weights

    plan = plan_of(q_class_weights(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan


def test_skipgram_single_scan_take_ordered(spark):
    from mapreduce_sssp_spark.operators.text_analysis import q_skipgram_pairs

    plan = plan_of(q_skipgram_pairs(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "TakeOrdered" in plan


def test_active_users_single_scan_conditional_distinct(spark):
    """DAU rides the WAU aggregate via conditional distinct — one
    corpus scan, not one per metric."""
    from mapreduce_sssp_spark.operators.event_windows import q_active_users

    plan = plan_of(q_active_users(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # the two-distinct aggregate


def test_cohort_ltv_cumsum_after_aggregate(spark):
    """The running sum windows over the (cohort x offset) triangle,
    never over raw purchases."""
    from mapreduce_sssp_spark.operators.event_windows import q_cohort_ltv

    plan = plan_of(q_cohort_ltv(spark, SF), "simple")
    assert plan.count("Window") == 1
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos > win_pos  # window outermost, aggregate inside


def test_embedding_quantize_map_side_no_wide_shuffle(spark):
    from mapreduce_sssp_spark.operators.similarity import (
        q_embedding_quantize,
    )

    plan = plan_of(q_embedding_quantize(spark, SF), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    # only the bounded load_parallel repartition; no hash shuffle
    assert "hashpartitioning" not in plan


def test_rfm_no_global_sort_broadcast_thresholds(spark):
    """RFM scoring must broadcast the 1-row threshold frame and keep
    the customer scan parallel — no ntile-style global sort."""
    from mapreduce_sssp_spark.operators.relational import q_rfm_segments

    plan = plan_of(q_rfm_segments(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Window" not in plan


def test_join_skew_salted_is_a_shuffle_join_with_partial_agg(spark):
    """The salted join must NOT broadcast (a broadcast would make the
    demonstration vacuous) and the rollup must partial-aggregate."""
    from mapreduce_sssp_spark.operators.scale_patterns import (
        q_join_skew_salted,
    )

    plan = plan_of(q_join_skew_salted(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def _tree(plan: str) -> str:
    """The physical-plan tree section only (the per-node detail below
    repeats operator names and would double-count them)."""
    return plan.split("\n\n(")[0]


def test_nearest_join_single_exchange_sort_window(spark):
    """Both direction carries must ride ONE union + exchange + sort +
    Window operator — the whole point of the formulation (composing the
    backward and forward joins would triple the exchanges)."""
    from mapreduce_sssp_spark.operators.asof import q_asof_join_nearest

    plan = plan_of(q_asof_join_nearest(spark, SF))
    tree = _tree(plan)
    assert tree.count("Exchange") == 1
    assert tree.count("Sort") == 1
    assert tree.count("Window") == 1
    assert "EqualTo(event_type,error)" in plan  # filters reach the scans
    assert "EqualTo(event_type,click)" in plan


def test_two_hop_paths_no_cartesian_no_bnlj(spark):
    from mapreduce_sssp_spark.operators.graph_queries import q_two_hop_paths

    plan = plan_of(q_two_hop_paths(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_join_null_skew_bypasses_join_for_null_keys(spark):
    """Exactly one join under a Union: the null branch must reach the
    aggregate without entering any join."""
    from mapreduce_sssp_spark.operators.scale_patterns import (
        q_join_null_skew,
    )

    plan = plan_of(q_join_null_skew(spark, SF))
    tree = _tree(plan)
    assert "Union" in tree
    assert tree.count("Join") == 1
    assert "CartesianProduct" not in plan


def test_ohlc_bars_single_exchange(spark):
    """Both window passes and the final aggregate share the
    (event_type, hour) key — the plan must contain exactly ONE
    shuffle exchange."""
    from mapreduce_sssp_spark.operators.event_windows import q_ohlc_bars

    plan = plan_of(q_ohlc_bars(spark, SF))
    assert plan.count(") Exchange") == 1
    assert "partial_max" in plan  # final agg is map-side partial


def test_histogram_equidepth_broadcasts_boundaries(spark):
    """The 1-row boundary array must broadcast (map-side binning) and
    the bin aggregate must be partial; the scan reads one column."""
    from mapreduce_sssp_spark.operators.relational import (
        q_histogram_equidepth,
    )

    plan = plan_of(q_histogram_equidepth(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_count" in plan or "partial_min" in plan
    assert "ReadSchema: struct<l_extendedprice:double>" in plan


def test_token_source_pmi_broadcasts_shortlist_and_marginals(spark):
    """The term shortlist and source marginals must both broadcast —
    the corpus-sized (term, source) count is the only shuffle of
    corpus-proportional rows."""
    from mapreduce_sssp_spark.operators.text_analysis import (
        q_token_source_pmi,
    )

    plan = plan_of(q_token_source_pmi(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_attribution_position_based_no_cartesian(spark):
    from mapreduce_sssp_spark.operators.event_windows import (
        q_attribution_position_based,
    )

    plan = plan_of(q_attribution_position_based(spark, SF), "simple")
    assert "CartesianProduct" not in plan


def test_basket_rules_broadcasts_dim_and_counts(spark):
    """The brand dim join and all three count lookups must broadcast;
    the within-basket self-join shuffles on bid only — the fact never
    rides more than its one pair-expansion exchange."""
    plan = plan_of(R.q_basket_rules(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # brand dim + antecedent counts + consequent counts (tot rides a
    # 1-row broadcast nested loop, which is fine).
    assert plan.count("BroadcastHashJoin") >= 3


def test_mann_whitney_runs_on_histogram_not_rows(spark):
    """One partial-aggregated corpus pass builds the (type, cents)
    histogram; every later stage (pair expansion, rank window, test
    stats) exchanges only histogram-sized data. The events scan must
    appear exactly once per branch and prune to 2 columns."""
    from mapreduce_sssp_spark.operators import event_windows as EW

    plan = plan_of(EW.q_mann_whitney_u(spark, SF))
    assert "partial" in plan.lower()  # map-side combine on the corpus agg
    assert "CartesianProduct" not in plan
    assert "event_id" not in plan  # pruned: only event_type + value read


def test_bootstrap_exchange_carries_replicates_not_rows(spark):
    """The xB explode must sit UPSTREAM of a partial hash aggregate in
    the same stage: the exchange after it carries B=32 groups per task,
    never the expanded corpus. r12 adds ONE RoundRobinPartitioning
    spread BEFORE the explode (load_parallel: the 32x md5 expansion
    otherwise runs on a single scan task) — that exchange carries the
    UN-expanded orders, so the invariant stands: no exchange anywhere
    carries the exploded corpus."""
    from mapreduce_sssp_spark.operators import sampling as S

    plan = plan_of(S.q_bootstrap_ci_mean(spark, SF))
    assert "Generate explode" in plan or "explode" in plan
    low = plan.lower()
    assert "partial" in low  # partial_sum(w), partial_sum(w*cents)
    # distinct Exchange operators (formatted mode mentions each twice:
    # tree header + detail block — count the detail headers): the
    # spread (if the scan was single-split) + the 32-group final agg.
    assert plan.count(") Exchange") <= 2
    # the explode's output must flow into the partial agg WITHOUT an
    # exchange in between: after the explode's detail block the only
    # exchange detail left is the 32-group final-agg one.
    expl = plan.index("explode")
    assert plan[expl:].count(") Exchange") <= 1


def test_skyline_fact_window_is_bucket_partitioned(spark):
    """The dominance running-max over the FACT rows must ride a
    hashpartitioning(bucket) exchange — a global un-partitioned window
    (one single task at 100 TB) is the bug this two-level decomposition
    exists to avoid. The only SinglePartition window allowed is the
    buckets-sized prefix carry (<= 32 rows)."""
    plan = plan_of(R.q_skyline_orders(spark, SF))
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan


def test_kendall_pair_join_broadcasts_calendar(spark):
    """The day-pair self-join runs on the calendar-sized daily aggregate
    and must be a broadcast (BNLJ on the range predicate) — never a
    shuffle of row-level data; the corpus contributes exactly one
    partial-aggregated groupBy(day) pass."""
    from mapreduce_sssp_spark.operators import stat_models as SM

    plan = plan_of(SM.q_kendall_tau_daily(spark, SF))
    assert "Broadcast" in plan  # calendar frame broadcasts to the pair join
    assert "partial" in plan.lower()  # map-side combine on the daily agg
    assert "o_orderkey" not in plan  # pruned: only date + totalprice read


def test_ols_is_one_aggregate_pass_no_join(spark):
    """Closed-form OLS must stay a single scan → partial agg → final agg
    plan: no join, no window, no second pass over lineitem."""
    from mapreduce_sssp_spark.operators import stat_models as SM

    plan = plan_of(SM.q_ols_multifeature(spark, SF))
    assert "Join" not in plan
    assert "partial" in plan.lower()
    # formatted mode prints each node twice (tree + details): one scan
    # node == at most two textual occurrences
    assert plan.count("Scan parquet") <= 2
    assert "Window" not in plan


def test_weighted_median_window_rides_group_partition(spark):
    """The cumulative-weight window must be hash-partitioned on the
    group key (never SinglePartition) and run over histogram rows —
    the corpus collapses in one partial-aggregated pass first."""
    from mapreduce_sssp_spark.operators import stat_models as SM

    plan = plan_of(SM.q_weighted_median(spark, SF))
    assert "hashpartitioning(l_returnflag" in plan
    assert "partial" in plan.lower()


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL limit must compile to a rank-based
    WindowGroupLimit (map-side top-k before the exchange) — never a
    per-left-row nested loop or a cartesian re-scan."""
    from mapreduce_sssp_spark.operators import python_surface as PS

    plan = plan_of(PS.q_lateral_topk_segment(spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


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
def test_shingle_pair_queries_prune_hot_postings_before_join(
    spark, qname, monkeypatch
):
    """Every shingle-keyed pair query must compile the max-df posting
    prune (text_common.SHINGLE_MAX_DF) BELOW its self-join: the kept
    postings relation both join sides scan carries the df filter, so a
    boilerplate shingle can never reach the pair join (the d^2 guard;
    behavior proven on a crafted hot-shingle corpus in
    tests/test_shingle_prune.py)."""
    from mapreduce_sssp_spark.operators.text_common import SHINGLE_MAX_DF
    from mapreduce_sssp_spark.queries_registry import QUERIES

    see_through_keep(monkeypatch)
    plan = plan_of(QUERIES[qname](spark, SF), "simple")
    # Since r10 the prune is an ANTI join against the HOT shingle set
    # (df > cap, tiny/broadcastable) instead of an inner join against
    # the keep set — same filter, no postings shuffle. The plan must
    # carry the hot-set filter and the LeftAnti join below the pair
    # self-join.
    assert f"> {SHINGLE_MAX_DF})" in plan  # Filter (df#N > cap)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_negative_sampling_shard_ranks_no_global_sort_no_v_broadcast(spark):
    """The node rank table must be built with the two-pass shard-rank
    device: the row_number window rides hashpartitioning(shard) —
    never an unpartitioned Window.orderBy over every node (a single
    sort task at 100 TB) — and the only SinglePartition exchange is
    the GLOBAL_ID_SHARDS-row offsets carry. The |V|-sized rank table
    must carry no forced broadcast hint (the idx join compiles as a
    shuffle join statically; AQE may still broadcast when it fits)."""
    from mapreduce_sssp_spark.operators import graph_queries as GQ

    plan = plan_of(GQ.q_negative_sampling(spark, SF), "simple")
    assert "hashpartitioning(shard" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in plan


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
