"""The plan census table: query -> scale factor -> operator counts.

Checked by tests/test_plans.py::test_census, which explains what is
counted. When a plan changes on purpose, that test prints the new row
ready to paste over the old one."""

CENSUS = {
    "above_cust_avg": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "active_users": {
        "sf0.001": {"Exchange hash": 3, "Expand": 1, "Generate": 1, "HashAggregate": 6, "Scan parquet": 1},
    },
    "agg_multi": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "anomaly_zscore": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "approx_topk_items": {
        "sf0.001": {"Exchange single": 1, "Generate": 1, "ObjectHashAggregate": 2, "Scan parquet": 1},
    },
    "asof_join_nearest": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 2, "Sort": 1, "Union": 1, "Window": 1},
    },
    "attribution_position_based": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 3, "HashAggregate": 4, "Scan parquet": 5, "Sort": 1, "Union": 1, "Window": 2},
        "sf0.01": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 4, "HashAggregate": 4, "Scan parquet": 5, "Sort": 3, "SortMergeJoin LeftAnti": 1, "Union": 1, "Window": 2},
    },
    "basket_rules": {
        "sf0.001": {"BroadcastExchange": 9, "BroadcastHashJoin": 8, "BroadcastNestedLoopJoin": 1, "Exchange hash": 8, "Exchange single": 1, "HashAggregate": 18, "Scan parquet": 10},
        "sf0.01": {"BroadcastExchange": 8, "BroadcastHashJoin": 7, "BroadcastNestedLoopJoin": 1, "Exchange hash": 10, "Exchange single": 1, "HashAggregate": 18, "Scan parquet": 10, "Sort": 2, "SortMergeJoin": 1},
    },
    "betweenness_source_dag": {
        "sf0.001": {"Exchange hash": 22, "HashAggregate": 32, "Scan ExistingRDD": 39, "Scan parquet": 1, "Sort": 20, "SortMergeJoin": 20, "SortMergeJoin LeftOuter": 14, "Window": 1},
    },
    "bigram_lift": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1, "Exchange hash": 3, "Exchange single": 1, "Generate": 4, "HashAggregate": 8, "Scan parquet": 4, "TakeOrderedAndProject": 1},
    },
    "bootstrap_ci_mean": {
        "sf0.001": {"Exchange hash": 1, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "bounce_rate_sessions": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 4, "Scan parquet": 1, "Sort": 1, "Window": 2},
    },
    "bpe_encode": {
        "sf0.001": {"Exchange hash": 1, "Generate": 1, "HashAggregate": 2, "Scan ExistingRDD": 1, "TakeOrderedAndProject": 1},
    },
    "calibration_bins": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "chi2_cells": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1, "Exchange hash": 3, "Exchange single": 1, "HashAggregate": 8, "Scan parquet": 4},
    },
    "chunk_documents": {
        "sf0.001": {"Generate": 1, "Scan parquet": 1},
    },
    "class_weights": {
        "sf0.001": {"Exchange hash": 1, "Exchange single": 1, "HashAggregate": 2, "Scan parquet": 1, "Window": 1},
    },
    "cogroup_user_activity": {
        "sf0.001": {"Exchange hash": 2, "FlatMapCoGroupsInPandas": 1, "Scan parquet": 2, "Sort": 2},
    },
    "cohort_ltv": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 3, "HashAggregate": 4, "Scan parquet": 2, "Sort": 1, "Window": 1},
    },
    "collect_set_flags": {
        "sf0.001": {"Exchange hash": 1, "ObjectHashAggregate": 2, "Scan parquet": 1},
    },
    "community_modularity": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1, "Exchange hash": 11, "Exchange single": 1, "HashAggregate": 13, "ObjectHashAggregate": 8, "Scan ExistingRDD": 13, "Sort": 9, "SortMergeJoin": 5, "SortMergeJoin LeftOuter": 1, "Union": 2},
    },
    "concurrent_shipments": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 1, "Exchange single": 1, "Generate": 1, "HashAggregate": 2, "Scan parquet": 2, "Sort": 1, "Window": 1},
    },
    "cross_source_contamination": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 3, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 7, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 10, "Scan ExistingRDD": 7, "Scan parquet": 2, "Sort": 2, "SortMergeJoin": 1},
    },
    "cube_agg": {
        "sf0.001": {"Exchange hash": 1, "Expand": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "decontaminate_ngrams": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 2, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 4, "Scan ExistingRDD": 2, "Scan parquet": 1},
    },
    "dedup_exact": {
        "sf0.001": {"Exchange hash": 1, "Exchange roundrobin": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "dedup_incremental": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 1, "Exchange roundrobin": 2, "HashAggregate": 2, "Scan parquet": 2},
    },
    "dedup_spans": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 1, "Exchange roundrobin": 1, "Generate": 1, "Scan ExistingRDD": 2, "Scan parquet": 1, "Sort": 2, "SortAggregate": 2},
    },
    "distinct_pairs": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "domain_mix_sample": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange single": 1, "HashAggregate": 6, "Scan parquet": 3},
    },
    "edge_jaccard": {
        "sf0.001": {"BroadcastExchange": 6, "BroadcastHashJoin": 6, "Exchange hash": 6, "Generate": 5, "HashAggregate": 9, "ObjectHashAggregate": 2, "Scan ExistingRDD": 10, "Sort": 2, "SortMergeJoin LeftOuter": 1},
    },
    "embedding_pq_encode": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 1, "Exchange roundrobin": 2, "Scan parquet": 2, "Sort": 2, "SortAggregate": 2},
    },
    "embedding_quantize": {
        "sf0.001": {"Exchange roundrobin": 1, "Generate": 1, "Scan parquet": 1},
    },
    "feature_hash": {
        "sf0.001": {"Exchange hash": 1, "Generate": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "geo_dbscan_core": {
        "sf0.001": {"BroadcastExchange": 7, "BroadcastHashJoin": 7, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 11, "Generate": 4, "HashAggregate": 14, "Scan ExistingRDD": 20, "Scan parquet": 3, "Sort": 12, "SortMergeJoin": 2, "SortMergeJoin LeftAnti": 1, "SortMergeJoin LeftOuter": 3, "Union": 3},
        "sf0.01": {"BroadcastExchange": 1, "BroadcastHashJoin": 2, "Exchange hash": 15, "Generate": 4, "HashAggregate": 14, "Scan ExistingRDD": 19, "Scan parquet": 3, "Sort": 23, "SortMergeJoin": 7, "SortMergeJoin LeftAnti": 2, "SortMergeJoin LeftOuter": 3, "Union": 3},
    },
    "gini_value": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "group_percentiles": {
        "sf0.001": {"Exchange hash": 1, "ObjectHashAggregate": 2, "Scan parquet": 1},
    },
    "grouping_sets_agg": {
        "sf0.001": {"Exchange hash": 1, "Expand": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "heavy_hitters": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange single": 1, "HashAggregate": 6, "Scan parquet": 2, "TakeOrderedAndProject": 1, "Window": 1},
    },
    "histogram_equidepth": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 1, "Exchange roundrobin": 2, "Exchange single": 1, "HashAggregate": 2, "ObjectHashAggregate": 2, "Scan parquet": 2},
    },
    "hits_scores": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 16, "Exchange single": 1, "HashAggregate": 30, "Scan ExistingRDD": 50, "Scan parquet": 1, "Sort": 37, "SortMergeJoin": 18, "SortMergeJoin LeftOuter": 12, "Union": 1},
    },
    "holt_winters_smoothing": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "ObjectHashAggregate": 2, "Scan parquet": 1},
    },
    "join_anti": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftAnti": 1, "Scan parquet": 2},
    },
    "join_full": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "Scan parquet": 2, "Sort": 2, "SortMergeJoin FullOuter": 1},
    },
    "join_inner": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 3},
    },
    "join_left": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftOuter": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "join_null_skew": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftOuter": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 3, "Union": 1},
    },
    "join_semi": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftSemi": 1, "Scan parquet": 2},
    },
    "join_skew_salted": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 3, "HashAggregate": 2, "Scan parquet": 2, "ShuffledHashJoin": 1},
    },
    "js_divergence_sources": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 2, "Exchange hash": 6, "Generate": 6, "HashAggregate": 16, "Scan parquet": 6, "Sort": 1, "Union": 1, "Window": 1},
    },
    "json_extract": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "json_map_explode": {
        "sf0.001": {"Exchange hash": 1, "Generate": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "kcore": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 3, "Exchange hash": 4, "HashAggregate": 8, "Scan ExistingRDD": 13, "Sort": 4, "SortMergeJoin LeftOuter": 3, "Union": 1},
    },
    "kendall_tau_daily": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange single": 1, "HashAggregate": 6, "Scan parquet": 2},
    },
    "kmeans_assign": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange roundrobin": 2, "Scan parquet": 2, "Sort": 4, "SortAggregate": 4},
    },
    "kmeans_update": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange roundrobin": 2, "Generate": 1, "HashAggregate": 2, "Scan parquet": 2, "Sort": 2, "SortAggregate": 2},
    },
    "ks_two_sample": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 2, "Exchange hash": 6, "HashAggregate": 16, "Scan parquet": 6, "Sort": 1, "Union": 1, "Window": 2},
    },
    "ktruss": {
        "sf0.001": {"Exchange hash": 3, "ObjectHashAggregate": 4, "Scan ExistingRDD": 5, "Sort": 4, "SortMergeJoin": 2, "Union": 1},
    },
    "label_propagation": {
        "sf0.001": {"Exchange hash": 6, "HashAggregate": 5, "ObjectHashAggregate": 8, "Scan ExistingRDD": 7, "Sort": 5, "SortMergeJoin": 4, "Union": 1},
    },
    "lang_id": {
        "sf0.001": {"Scan parquet": 1},
    },
    "lateral_topk_segment": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 2, "HashAggregate": 2, "Scan parquet": 3, "Sort": 2, "Window": 1, "WindowGroupLimit": 3},
    },
    "length_buckets": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "lift_deciles": {
        "sf0.001": {"Exchange single": 1, "HashAggregate": 2, "Scan parquet": 1, "Sort": 2, "Window": 3},
    },
    "mann_whitney_u": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 2, "Exchange hash": 6, "HashAggregate": 16, "Scan parquet": 6, "Sort": 1, "Union": 1, "Window": 1},
    },
    "map_literal_decode": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "minhash_jaccard_error": {
        "sf0.001": {"BroadcastExchange": 5, "BroadcastHashJoin": 5, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 5, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 10, "Scan ExistingRDD": 11, "Scan parquet": 1, "Sort": 2, "SortMergeJoin LeftSemi": 1, "Union": 1},
    },
    "mis_greedy": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "Scan ExistingRDD": 5, "Sort": 2, "SortMergeJoin LeftOuter": 1, "Union": 1},
    },
    "negative_sampling": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 5, "Exchange single": 1, "HashAggregate": 8, "Scan ExistingRDD": 6, "Scan parquet": 1, "Sort": 2, "Union": 2, "Window": 2},
    },
    "ngram_jaccard_pairs": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 3, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 4, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 8, "Scan ExistingRDD": 6, "Scan parquet": 1},
    },
    "ohlc_bars": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1, "Sort": 2, "Window": 2},
    },
    "ols_multifeature": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "order_gaps": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftSemi": 1, "Exchange hash": 1, "FlatMapGroupsInPandas": 1, "Scan parquet": 2, "Sort": 1},
    },
    "outliers_mad": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 3, "Exchange hash": 4, "Exchange roundrobin": 1, "HashAggregate": 2, "ObjectHashAggregate": 6, "Scan ExistingRDD": 4, "Scan parquet": 1},
    },
    "pagerank": {
        "sf0.001": {"BroadcastExchange": 6, "BroadcastNestedLoopJoin": 6, "Exchange hash": 9, "Exchange single": 6, "HashAggregate": 32, "Scan ExistingRDD": 37, "Scan parquet": 1, "Sort": 22, "SortMergeJoin": 7, "SortMergeJoin LeftAnti": 6, "SortMergeJoin LeftOuter": 6, "Union": 1},
    },
    "percent_rank_norm": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "pipeline_clean_corpus": {
        "sf0.001": {"BroadcastExchange": 5, "BroadcastHashJoin": 3, "BroadcastHashJoin LeftAnti": 1, "BroadcastHashJoin LeftSemi": 1, "Exchange hash": 8, "Exchange roundrobin": 2, "Generate": 1, "HashAggregate": 14, "Scan ExistingRDD": 10, "Scan parquet": 1, "Sort": 2, "SortMergeJoin LeftAnti": 1},
    },
    "pivot_status": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 4, "Scan parquet": 1},
    },
    "price_histogram": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "profile_columns": {
        "sf0.001": {"Exchange hash": 1, "Exchange single": 1, "Expand": 1, "Generate": 1, "HashAggregate": 4, "Scan parquet": 1},
    },
    "pyds_edges_roundtrip": {
        "sf0.001": {},
    },
    "pyds_edges_writer_roundtrip": {
        "sf0.001": {},
    },
    "quantile_normalization": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 1, "Exchange single": 1, "HashAggregate": 4, "Scan parquet": 2, "Sort": 2, "Window": 2},
    },
    "range_join_bands": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "rank_fusion_rrf": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 1, "Exchange roundrobin": 2, "Scan parquet": 2, "Sort": 3, "Window": 3, "WindowGroupLimit": 1},
    },
    "rfm_segments": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 2, "Exchange single": 1, "HashAggregate": 4, "ObjectHashAggregate": 2, "Scan parquet": 2},
    },
    "rollup_agg": {
        "sf0.001": {"Exchange hash": 1, "Expand": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "scalar_date": {
        "sf0.001": {"Scan parquet": 1},
    },
    "scalar_string_math": {
        "sf0.001": {"Scan parquet": 1},
    },
    "scc": {
        "sf0.001": {"BroadcastExchange": 9, "BroadcastHashJoin": 8, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 20, "HashAggregate": 24, "Scan ExistingRDD": 41, "Scan parquet": 3, "Sort": 19, "SortMergeJoin": 7, "SortMergeJoin LeftAnti": 3, "Union": 5},
    },
    "scd2_intervals": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 2, "SortAggregate": 2, "Window": 3},
    },
    "seasonality_dow": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "session_paths": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1, "TakeOrderedAndProject": 1, "Window": 3},
    },
    "set_except": {
        "sf0.001": {"Exchange hash": 2, "Generate": 1, "HashAggregate": 6, "Scan parquet": 2, "Union": 1},
    },
    "set_intersect": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftSemi": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "set_union": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2, "Union": 1},
    },
    "shingle_containment": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 2, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 3, "Exchange roundrobin": 1, "Generate": 1, "HashAggregate": 6, "Scan ExistingRDD": 5, "Scan parquet": 1},
    },
    "similarity_topk": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 1, "Exchange roundrobin": 2, "Scan parquet": 2, "Sort": 2, "Window": 1, "WindowGroupLimit": 2},
    },
    "skipgram_pairs": {
        "sf0.001": {"Exchange hash": 1, "Generate": 1, "HashAggregate": 2, "Scan parquet": 1, "TakeOrderedAndProject": 1},
    },
    "skyline_orders": {
        "sf0.001": {"BroadcastExchange": 3, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 2, "Exchange hash": 2, "Exchange single": 3, "HashAggregate": 6, "Scan parquet": 4, "Sort": 2, "Window": 2},
    },
    "spearman_corr": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 2, "Exchange roundrobin": 3, "Exchange single": 3, "HashAggregate": 6, "Scan parquet": 3, "Sort": 2, "Window": 2},
    },
    "sql_tpch_q1": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "sql_tpch_q11": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange hash": 3, "Exchange range": 1, "Exchange single": 1, "HashAggregate": 8, "Scan parquet": 6, "Sort": 1},
    },
    "sql_tpch_q12": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "sql_tpch_q14": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange single": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "sql_tpch_q16": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 2, "HashAggregate": 4, "Scan parquet": 2},
    },
    "sql_tpch_q19": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange single": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "sql_tpch_q2": {
        "sf0.001": {"BroadcastExchange": 7, "BroadcastHashJoin": 7, "Exchange hash": 5, "HashAggregate": 6, "Scan parquet": 9, "Sort": 2, "SortMergeJoin": 1, "TakeOrderedAndProject": 1},
    },
    "sql_tpch_q20": {
        "sf0.001": {"BroadcastExchange": 5, "BroadcastHashJoin": 1, "BroadcastHashJoin LeftSemi": 4, "Exchange hash": 1, "Exchange range": 1, "HashAggregate": 4, "Scan parquet": 6, "Sort": 1},
    },
    "sql_tpch_q21": {
        "sf0.001": {"BroadcastExchange": 4, "BroadcastHashJoin": 2, "BroadcastHashJoin LeftAnti": 1, "BroadcastHashJoin LeftSemi": 1, "Exchange hash": 2, "HashAggregate": 4, "Scan parquet": 5},
    },
    "sql_tpch_q22": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 1, "BroadcastHashJoin LeftAnti": 1, "Exchange hash": 1, "Exchange single": 1, "HashAggregate": 4, "Scan parquet": 4},
    },
    "sql_tpch_q4": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin LeftSemi": 1, "Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "sql_tpch_q6": {
        "sf0.001": {"Exchange single": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "sssp": {
        "sf0.001": {"Exchange hash": 8, "HashAggregate": 12, "Scan ExistingRDD": 16, "Scan parquet": 1, "Sort": 7, "SortMergeJoin": 4, "SortMergeJoin LeftOuter": 5, "Union": 1},
        "sf0.01": {"Exchange hash": 10, "HashAggregate": 16, "Scan ExistingRDD": 22, "Scan parquet": 1, "Sort": 9, "SortMergeJoin": 6, "SortMergeJoin LeftOuter": 7, "Union": 1},
    },
    "sssp_paths_dag": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 12, "HashAggregate": 6, "Scan ExistingRDD": 11, "Scan parquet": 1, "Sort": 16, "SortMergeJoin": 1, "SortMergeJoin LeftOuter": 7, "Window": 1},
    },
    "text_quality": {
        "sf0.001": {"Scan parquet": 1},
    },
    "text_repetition": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 2, "Exchange roundrobin": 2, "Generate": 1, "HashAggregate": 4, "Scan parquet": 2},
    },
    "text_stats": {
        "sf0.001": {"Scan parquet": 1},
    },
    "token_source_pmi": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 3, "Exchange roundrobin": 3, "Generate": 2, "HashAggregate": 6, "Scan parquet": 3, "TakeOrderedAndProject": 1, "Window": 1},
    },
    "tokenizer_fertility": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "topk_orders": {
        "sf0.001": {"Scan parquet": 1, "TakeOrderedAndProject": 1},
    },
    "trigram_lm": {
        "sf0.001": {"Exchange hash": 2, "Generate": 1, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1, "TakeOrderedAndProject": 1, "Window": 1},
    },
    "two_hop_paths": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 1, "BroadcastHashJoin LeftOuter": 1, "Exchange hash": 3, "HashAggregate": 6, "Scan ExistingRDD": 3, "Scan parquet": 1},
    },
    "two_hop_paths_capped": {
        "sf0.001": {"BroadcastExchange": 6, "BroadcastHashJoin": 3, "BroadcastHashJoin LeftOuter": 1, "BroadcastHashJoin LeftSemi": 1, "BroadcastNestedLoopJoin": 1, "Exchange hash": 8, "Exchange single": 1, "HashAggregate": 18, "Scan ExistingRDD": 7, "Scan parquet": 1, "Sort": 1, "Window": 2},
    },
    "unigram_doc_logprob": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange hash": 4, "Exchange single": 1, "Generate": 2, "HashAggregate": 8, "Scan parquet": 2, "Window": 1},
    },
    "unpivot_measures": {
        "sf0.001": {"Expand": 1, "Scan parquet": 1},
    },
    "walk_pmi_pairs": {
        "sf0.001": {"BroadcastExchange": 12, "BroadcastHashJoin": 10, "BroadcastNestedLoopJoin": 2, "Exchange hash": 16, "Exchange single": 2, "Generate": 4, "HashAggregate": 22, "ObjectHashAggregate": 2, "Scan ExistingRDD": 35, "Sort": 12, "SortAggregate": 20, "SortMergeJoin": 2, "Union": 16},
    },
    "wcc": {
        "sf0.001": {"Exchange hash": 16, "HashAggregate": 12, "Scan ExistingRDD": 14, "Scan parquet": 1, "Sort": 20, "SortMergeJoin": 3, "SortMergeJoin LeftOuter": 6, "Union": 1, "Window": 2},
    },
    "weighted_median": {
        "sf0.001": {"Exchange hash": 2, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1, "Window": 3, "WindowGroupLimit": 1},
    },
    "weighted_sample": {
        "sf0.001": {"BroadcastExchange": 1, "BroadcastNestedLoopJoin": 1, "Exchange single": 1, "HashAggregate": 2, "Scan parquet": 2},
    },
    "window_lag": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "window_moving": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "window_ntile": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 1, "Window": 1},
    },
    "window_rank": {
        "sf0.001": {"Exchange hash": 1, "Scan parquet": 1, "Sort": 2, "Window": 1, "WindowGroupLimit": 2},
    },
    "window_session": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1, "Sort": 1},
    },
    "window_sliding": {
        "sf0.001": {"Exchange hash": 1, "Expand": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "window_tumbling": {
        "sf0.001": {"Exchange hash": 1, "HashAggregate": 2, "Scan parquet": 1},
    },
    "wl_relabel": {
        "sf0.001": {"BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange hash": 15, "HashAggregate": 26, "ObjectHashAggregate": 4, "Scan parquet": 10, "Union": 5},
    },
    "zone_map_pruning": {
        "sf0.001": {"Exchange hash": 2, "Exchange single": 1, "HashAggregate": 4, "Scan parquet": 2, "Sort": 1, "Union": 1, "Window": 1},
    },
}
