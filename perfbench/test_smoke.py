"""Smoke test: every workload at miniature size, output checks on, traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM (about a minute per workload).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import LAYER_METRICS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "mini"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["sssp_converge", "tpch_sql", "corpus_dedup"])
def test_workload_mini_traced(workload):
    res = _run(workload, trace=1)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert list(res["metrics"]) == LAYER_METRICS
    layer = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "sssp_converge":
        # mini graph: 4 layers -> 4 rounds (gen.gen_graph)
        assert layer["graph.sssp.rounds"] == 4
        assert layer["graph.sssp.stages"] > 0 and layer["graph.sssp.shuffle_bytes"] > 0
    elif workload == "tpch_sql":
        assert layer["relational.jobs"] > 0 and layer["graph.sssp.rounds"] == 0
    else:
        assert layer["graph.wcc.rounds"] > 0 and layer["io.sinks.files_written"] > 0
        assert 0 < layer["dedup.lsh_precision"] <= 1


def test_untraced_prints_end_to_end_metrics():
    res = _run("sssp_converge", trace=0)
    assert res["correct"] is True
    metrics = res["metrics"]
    assert set(metrics) == {"cpu_s", "query_cpu_p50_s", "setup_s", "peak_rss_mb"}
    assert all(m["value"] > 0 for m in metrics.values())
