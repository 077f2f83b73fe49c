"""Per-process runtime state that must stay OUT of semantic
fingerprints.

The fingerprint referee (fingerprints.py) folds the repr of
module-level constants into each query's semantic hash. A plain
``[0]`` run counter is such a constant — but its repr CHANGES once a
streaming query runs in-process, so a full pytest run (streaming tests
execute before some later fingerprint comparison, or vice versa)
made the referee flaky while a standalone run stayed green (r12
finding). Locks never had the problem because non-whitelisted types
are skipped by the folder; ``RunCounter`` gets the same treatment by
NOT being a list — runtime-only state in a type the folder ignores,
with the mutation API the sink-name sequencing needs.
"""

from __future__ import annotations

import functools
import threading


class RunCounter:
    """Thread-safe monotonically increasing per-process counter."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._n = 0

    def next(self) -> int:
        with self._lock:
            self._n += 1
            return self._n


class RunCache:
    """Bounded, thread-safe per-process memo (converged-DataFrame
    reuse); a full cache evicts its oldest-inserted entry. A plain dict
    constant would fold its CONTENTS into the semantic fingerprints
    once populated — same referee flake as the counters, found on the
    DAG-state memo. Deliberately NOT a dict subclass (isinstance(dict)
    would put it back on the folder's whitelist)."""

    def __init__(self, cap: int = 8) -> None:
        self._lock = threading.Lock()
        self._d: dict = {}
        self._cap = cap

    def get(self, key):
        with self._lock:
            return self._d.get(key)

    def put(self, key, value) -> None:
        with self._lock:
            self._d.pop(key, None)
            if len(self._d) >= self._cap:
                del self._d[next(iter(self._d))]
            self._d[key] = value

    def clear(self) -> None:
        with self._lock:
            self._d.clear()

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)


_SHARED_STATES: list = []


def shared_state(owner: str | None = None):
    """Declare a ``(spark, sf_dir, *args)`` function as cross-query
    shared state: a converged or induced frame that several registry
    queries read, built once per (session, sf_dir, args) and memoized in
    a per-function ``RunCache`` (the reference's final job reads the
    converged state from HDFS instead of re-running the fixpoint).

    ``owner`` names the registry query whose timed cost IS the build;
    every other query that reaches the function in its source closure
    (fingerprints.closure) reads it at marginal cost. The wrapper
    exposes ``.owner`` and ``.clear()``; ``clear_shared_state()`` drops
    every declared state. Bodies ``cut`` their frame, so a reader
    never replays the build, even after a caller's clearCache()."""

    def deco(fn):
        memo = RunCache()

        @functools.wraps(fn)
        def wrapper(spark, sf_dir, *args):
            key = (
                fn.__qualname__,
                spark.sparkContext.applicationId,
                sf_dir,
                *args,
            )
            st = memo.get(key)
            if st is None:
                st = fn(spark, sf_dir, *args)
                memo.put(key, st)
            return st

        wrapper.owner = owner
        wrapper.clear = memo.clear
        _SHARED_STATES.append(wrapper)
        return wrapper

    return deco


def shared_states() -> tuple:
    """Every function declared with ``@shared_state`` so far (modules
    register theirs at import)."""
    return tuple(_SHARED_STATES)


def clear_shared_state() -> None:
    """Drop every memoized shared state: a harness that times the same
    query repeatedly calls this per pass, so a later pass pays the real
    fixpoint/induction again instead of a dict lookup."""
    for st in _SHARED_STATES:
        st.clear()
