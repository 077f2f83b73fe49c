"""runstate.shared_state: one memo per declared state, keyed by
(function, session, sf_dir, *args), cleared per state or all at once,
invisible to the semantic fingerprints — and the reader map the bench
derives from the source closures instead of keeping it by hand."""

from __future__ import annotations

from types import SimpleNamespace

from mapreduce_sssp_spark import queries_registry as reg
from mapreduce_sssp_spark import runstate
from mapreduce_sssp_spark.fingerprints import closure, query_fingerprint
from mapreduce_sssp_spark.graph.fixpoint import converge
from mapreduce_sssp_spark.io.sources import edges_order_chain
from mapreduce_sssp_spark.operators.graph_queries import q_compat_final_lines
from mapreduce_sssp_spark.runstate import (
    clear_shared_state,
    shared_state,
    shared_states,
)


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _counted(owner=None):
    builds = []

    @shared_state(owner=owner)
    def state(spark, sf_dir, *args):
        builds.append((spark.sparkContext.applicationId, sf_dir, *args))
        return object()

    return state, builds


def test_same_key_builds_once(monkeypatch):
    monkeypatch.setattr(runstate, "_SHARED_STATES", [])
    state, builds = _counted(owner="q")
    a = state(_session("app1"), "sf")
    assert state(_session("app1"), "sf") is a
    assert builds == [("app1", "sf")]
    assert state.owner == "q"
    assert shared_states() == (state,)


def test_new_app_sf_dir_or_arg_builds_again(monkeypatch):
    monkeypatch.setattr(runstate, "_SHARED_STATES", [])
    state, builds = _counted()
    state(_session("app1"), "sf")
    state(_session("app2"), "sf")
    state(_session("app1"), "sf2")
    state(_session("app1"), "sf", 7)
    state(_session("app1"), "sf", 7)
    assert builds == [
        ("app1", "sf"), ("app2", "sf"), ("app1", "sf2"), ("app1", "sf", 7)
    ]
    assert state.owner is None


def test_clear_drops_only_its_own_entries(monkeypatch):
    monkeypatch.setattr(runstate, "_SHARED_STATES", [])
    one, one_builds = _counted()
    two, two_builds = _counted()
    s = _session("app")
    one(s, "sf")
    two(s, "sf")
    one.clear()
    one(s, "sf")
    two(s, "sf")
    assert len(one_builds) == 2 and len(two_builds) == 1


def test_clear_shared_state_drops_all_entries(monkeypatch):
    monkeypatch.setattr(runstate, "_SHARED_STATES", [])
    one, one_builds = _counted()
    two, two_builds = _counted()
    s = _session("app")
    one(s, "sf")
    two(s, "sf")
    clear_shared_state()
    one(s, "sf")
    two(s, "sf")
    assert len(one_builds) == 2 and len(two_builds) == 2


def test_populated_memo_leaves_consumer_fingerprint_unchanged(monkeypatch):
    monkeypatch.setattr(runstate, "_SHARED_STATES", [])

    @shared_state()
    def state(spark, sf_dir):
        return [spark.sparkContext.applicationId, sf_dir]

    def consumer(spark, sf_dir):
        return state(spark, sf_dir)

    # Package functions as far as the closure walk is concerned.
    for fn in (state, state.__wrapped__, consumer):
        fn.__module__ = "mapreduce_sssp_spark._shared_state_test"
    before = query_fingerprint(consumer, None)
    assert state in closure(consumer)
    state(_session("app"), "sf")
    assert query_fingerprint(consumer, None) == before


# Every state's readers: the old hand-kept producer/consumer pairs and
# co-occurrence list, plus the readers those lists missed
# (sssp_paths_dag, edge_jaccard, walk_pmi_pairs via q_random_walks).
EXPECTED_READERS = {
    "_sssp_dag_converged": {
        "sssp_dag",
        "compat_final_lines",
        "betweenness_source_dag",
        "sssp_paths_dag",
    },
    "_scc_labels": {"scc", "condensation_dag"},
    "_landmark_state": {
        "landmark_distances",
        "closeness_landmark",
        "harmonic_centrality",
    },
    "_bpe_state": {"bpe_merges", "bpe_encode"},
    "_part_cooccurrence_edges": {
        "triangle_counts",
        "kcore",
        "label_propagation",
        "clustering_coefficient",
        "mis_greedy",
        "random_walks",
        "ktruss",
        "community_modularity",
        "edge_jaccard",
        "walk_pmi_pairs",
    },
}


def test_derived_reader_map():
    closures = {n: closure(fn) for n, fn in reg.QUERIES.items()}
    derived = {
        st.__qualname__: {n for n, c in closures.items() if st in c}
        for st in shared_states()
    }
    assert derived == EXPECTED_READERS
    for st in shared_states():
        if st.owner is not None:
            assert st.owner in reg.QUERIES
            assert st in closures[st.owner]


def test_closure_walks_through_shared_state_wrapper():
    c = closure(q_compat_final_lines)
    assert edges_order_chain in c
    assert converge in c
