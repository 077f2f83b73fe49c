"""ORACLE_HASHES.json freshness pin — the mechanical changed-since
referee (r10 ADVICE #4 / verdict "What's wrong" #2).

A semantics-affecting edit to any registry query (engine function,
any helper it references, or its oracle SQL) changes that query's
fingerprint; this test then fails until ``python
tools/update_fingerprints.py`` is run, which bumps the query's
``round`` in the snapshot and thereby re-prioritizes it for a fresh
driver row.  The snapshot is the registry's only changed-since
source, so no hand-maintained bump list can rot by omission.
"""

from __future__ import annotations

import json
from pathlib import Path

from mapreduce_sssp_spark.fingerprints import all_fingerprints

ROOT = Path(__file__).resolve().parents[1]
SNAPSHOT = ROOT / "ORACLE_HASHES.json"


def test_snapshot_exists():
    assert SNAPSHOT.exists(), "run: python tools/update_fingerprints.py"


def test_fingerprints_match_snapshot():
    snap = json.loads(SNAPSHOT.read_text())["queries"]
    live = all_fingerprints()
    stale = sorted(
        n for n in live
        if n not in snap or snap[n]["fp"] != live[n]
    )
    dropped = sorted(set(snap) - set(live))
    assert not stale and not dropped, (
        f"ORACLE_HASHES.json is stale (changed/new: {stale}, dropped: "
        f"{dropped}) — a semantics-affecting edit landed without the "
        f"bump; run: python tools/update_fingerprints.py"
    )


def test_snapshot_covers_registry():
    from mapreduce_sssp_spark import queries_registry as reg

    snap = json.loads(SNAPSHOT.read_text())["queries"]
    assert set(snap) == set(reg.QUERIES)


def test_closure_follows_function_local_imports():
    from mapreduce_sssp_spark import queries_registry as reg
    from mapreduce_sssp_spark.fingerprints import closure
    from mapreduce_sssp_spark.graph.kcore import kcore
    from mapreduce_sssp_spark.graph.scc import scc
    from mapreduce_sssp_spark.graph.triangles import triangle_counts

    assert triangle_counts in closure(reg.QUERIES["triangle_counts"])
    assert scc in closure(reg.QUERIES["scc"])
    assert kcore in closure(reg.QUERIES["kcore"])
