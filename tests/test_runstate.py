"""RunCache: a full cache evicts only its oldest-inserted entry."""

from __future__ import annotations

from mapreduce_sssp_spark.runstate import RunCache


def test_run_cache_evicts_oldest_entry_only():
    cap = 4
    cache = RunCache(cap=cap)
    for i in range(cap + 1):
        cache.put(i, f"v{i}")
    assert cache.get(0) is None
    assert [cache.get(i) for i in range(1, cap + 1)] == ["v1", "v2", "v3", "v4"]
    assert len(cache) == cap


def test_run_cache_reput_does_not_evict():
    cache = RunCache(cap=2)
    cache.put("a", 1)
    cache.put("b", 2)
    cache.put("a", 3)
    assert (cache.get("a"), cache.get("b")) == (3, 2)
    cache.clear()
    assert cache.get("a") is None
