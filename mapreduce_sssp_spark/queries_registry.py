"""Central registry merging every operator module's queries()/oracle_sql()
entries. Import side-effect free; each module contributes QUERIES (name ->
(spark, sf_dir) -> DataFrame) and ORACLE (name -> DuckDB SQL twin).
"""

from __future__ import annotations

from .io import python_datasource, sinks
from .operators import (
    asof,
    cdc,
    dedup,
    event_windows,
    geo,
    graph_queries,
    grouped_pandas,
    multimodal,
    pipeline,
    python_surface,
    relational,
    sampling,
    scale_patterns,
    similarity,
    stat_models,
    stat_tests,
    text_analysis,
)
from .streaming import foreach_sink, joins, stateful

_MODULES = [
    graph_queries,
    relational,
    cdc,
    dedup,
    similarity,
    text_analysis,
    event_windows,
    stat_tests,
    stat_models,
    multimodal,
    asof,
    stateful,
    joins,
    foreach_sink,
    sampling,
    scale_patterns,
    geo,
    grouped_pandas,
    python_surface,
    pipeline,
    sinks,
    python_datasource,
]

QUERIES = {}
ORACLE = {}
for _m in _MODULES:
    for _k in _m.QUERIES:
        assert _k not in QUERIES, f"duplicate query name: {_k}"
    QUERIES.update(_m.QUERIES)
    ORACLE.update(_m.ORACLE)

# Every oracle must have a query.
assert set(ORACLE) <= set(QUERIES), set(ORACLE) - set(QUERIES)

# --- Registry iteration order -------------------------------------------------
# The correctness driver verifies ~50 queries per round, taken in registry
# order.  Rounds 2-3 repeatedly re-checked the same front-of-registry entries
# while 61 later ones never received a driver row.  Order the registry so the
# entries with the weakest external evidence come first:
#   1. entries whose LATEST driver row is red (mismatch or error) — either
#      fixed since and needing a fresh row, or genuinely broken and needing
#      the fastest possible feedback;
#   2. entries never checked by the driver in any round;
#   3. entries already driver-checked, in their original module order.
# History is read dynamically from the CORRECTNESS_r*.json files the driver
# itself writes into the repo root, so the ordering self-updates every round
# without editing this module.  The static r2-r3 snapshot below is the
# fallback when no history files are readable (package imported outside the
# repo checkout).
_DRIVER_CHECKED_R2_R3 = {
    "above_cust_avg", "adjacency", "agg_multi", "collect_set_flags",
    "compat_final_lines", "compat_reverse_lines", "compat_state_lines",
    "cube_agg", "dedup_exact", "dedup_minhash", "dedup_simhash",
    "distinct_pairs", "group_percentiles", "grouping_sets_agg", "join_anti",
    "join_full", "join_inner", "join_left", "join_semi", "json_extract",
    "json_map_explode", "kcore", "map_literal_decode", "ngram_jaccard_pairs",
    "pagerank", "pivot_status", "price_histogram", "reverse_graph",
    "reverse_graph_exploded", "rollup_agg", "scalar_date",
    "scalar_string_math", "set_except", "set_intersect", "set_union",
    "similarity_topk", "sql_tpch_q1", "sql_tpch_q10", "sql_tpch_q12",
    "sql_tpch_q13", "sql_tpch_q14", "sql_tpch_q15", "sql_tpch_q16",
    "sql_tpch_q17", "sql_tpch_q18", "sql_tpch_q19", "sql_tpch_q21",
    "sql_tpch_q22", "sql_tpch_q3", "sql_tpch_q4", "sql_tpch_q5",
    "sql_tpch_q6", "sql_tpch_q7", "sql_tpch_q8", "sql_tpch_q9", "sssp",
    "sssp_dag", "text_edges_roundtrip", "topk_orders", "triangle_counts",
    "tsv_edges_roundtrip", "unpivot_measures", "variant_extract", "wcc",
    "wcc_cyclic", "window_lag", "window_moving", "window_ntile",
    "window_rank",
}
_RECHECK_FIRST = ["json_extract", "dedup_simhash", "sssp", "pagerank", "kcore"]


_LATEST_ROWS_CACHE: list = []


def _latest_rows():
    """Most recent driver row per query from CORRECTNESS_r*.json (later
    rounds override earlier; files sort lexicographically by round —
    the driver zero-pads round numbers), or None when no history is
    readable. Each row gains a ``_round`` key — the round number of the
    file it came from — so the ordering below can rank green entries by
    evidence freshness. Parsed once per process (module-level memo):
    both _driver_history() and the staleness ranking consume it during
    the same import."""
    import json
    import re
    from pathlib import Path

    if _LATEST_ROWS_CACHE:
        return _LATEST_ROWS_CACHE[0]
    latest = {}
    try:
        root = Path(__file__).resolve().parents[1]
        for p in sorted(root.glob("CORRECTNESS_r*.json")):
            try:
                data = json.loads(p.read_text())
            except (OSError, ValueError):
                continue
            m = re.search(r"r(\d+)", p.name)
            rnd = int(m.group(1)) if m else 0
            if isinstance(data, dict):
                for k, v in data.items():
                    if isinstance(v, dict):
                        latest[k] = dict(v, _round=rnd)
    except OSError:
        return None
    result = latest or None
    _LATEST_ROWS_CACHE.append(result)
    return result


def _driver_history():
    """Latest driver verdict per query from CORRECTNESS_r*.json, if present.

    Returns (red, checked): names whose most recent driver row failed or
    errored, and all names that have ever received a driver row.
    Returns (None, None) when no history is readable.
    """
    latest = _latest_rows()
    if latest is None:
        return None, None
    red = {
        n for n, row in latest.items()
        if row.get("rows_match") is False
        or row.get("schema_match") is False
        or row.get("hash_match") is False
        or row.get("err") not in (None, "no_oracle")
        # rows-only in the last driver row but an oracle twin exists NOW:
        # the oracle was added after that row, so a fresh check upgrades a
        # weak verdict to a hash verdict.
        or (row.get("err") == "no_oracle" and n in ORACLE)
    }
    return red, set(latest)


def _changed_since():
    """Per query, the latest round at which its semantics changed: the
    mechanical fingerprint snapshot (ORACLE_HASHES.json, maintained by
    tools/update_fingerprints.py and pinned fresh by
    tests/test_fingerprints.py). Empty when the snapshot is unreadable
    (package imported outside the repo checkout)."""
    import json
    from pathlib import Path

    try:
        snap = json.loads(
            (Path(__file__).resolve().parents[1] / "ORACLE_HASHES.json")
            .read_text()
        ).get("queries", {})
    except (OSError, ValueError):
        return {}
    return {name: ent.get("round", 0) for name, ent in snap.items()}


def _registry_order(names):
    red, checked = _driver_history()
    latest = _latest_rows() or {}
    if checked is None:  # fallback: static r2-r3 snapshot
        red, checked = set(_RECHECK_FIRST), _DRIVER_CHECKED_R2_R3

    def last_round(n):
        return latest.get(n, {}).get("_round", 0)

    front = [n for n in names if n in red]
    never = [n for n in names if n not in checked and n not in red]
    green = [n for n in names if n in checked and n not in red]
    # Changed-since-last-row entries jump the green queue: their driver
    # evidence predates the behavior change, so a fresh row is worth
    # more than re-greening an unchanged query.
    changed_since = _changed_since()
    stale_changed = [
        n for n in green
        if n in changed_since and last_round(n) < changed_since[n]
    ]
    rest_green = [n for n in green if n not in stale_changed]
    # Staleness rotation (r9 verdict, "Next round" #2): order the green
    # tier by ASCENDING last-checked round instead of static module
    # order — the driver's ~50 slots then rotate through the whole
    # registry every ~7 rounds instead of re-checking the same
    # front-of-module entries while late-module entries sit on r2-r3
    # evidence forever. Name tiebreak keeps the order deterministic.
    rest_green.sort(key=lambda n: (last_round(n), n))

    # Within each group, oracle-backed entries go first: a driver check of
    # a rows-only entry can only ever yield a weak rows-only row, so it
    # should not consume budget ahead of an entry that can earn a full
    # hash verdict.  Rows-only entries still surface once the hash-backed
    # backlog drains (they stay "never checked" until then).
    def by_oracle(group):
        return [n for n in group if n in ORACLE] + [
            n for n in group if n not in ORACLE
        ]

    return (
        by_oracle(front)
        + by_oracle(never)
        + by_oracle(stale_changed)
        + by_oracle(rest_green)
    )


QUERIES = {n: QUERIES[n] for n in _registry_order(list(QUERIES))}
ORACLE = {n: ORACLE[n] for n in QUERIES if n in ORACLE}
