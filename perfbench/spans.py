"""Spans around calls into the program's modules, joined with Spark's own
status store.

A span times one call into a public function and runs it under its own
Spark job group, so every job the call launches is attributed to it.
Nothing is read from Spark while a span is open: ``job_stats`` reads the
status store for a finished span's group after the timer has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one traced op; ``spans`` is cleared per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"perfbench:{name}#{next(self._ids)}",
                  parent.group if parent else None, 0.0)
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def wrap(self, name: str, fn, after=None):
        """``fn`` timed as span ``name``; ``after(span, result)`` may
        materialize or count the result inside the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    out = after(sp, out)
                return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str, object]]):
        """Temporarily replace ``module.attr`` with a traced wrapper, for
        calls the program makes internally. ``targets`` holds
        (module, attr, span name, after-hook)."""
        saved = []
        for mod, attr, name, after in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(name, orig, after))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)


def _opt(o):
    return o.get() if o.isDefined() else None


def job_stats(sc, groups: list[str]) -> dict:
    """Sum Spark's job and stage records over the job groups given.

    ``job_s`` is the length of the union of the jobs' [submit, complete]
    intervals (adaptive execution can run jobs concurrently, so a plain
    sum could exceed wall time). Stage figures count completed stages
    only; skipped stages did no work.
    """
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = {"jobs": 0, "count_jobs": 0, "stages": 0, "tasks": 0,
           "job_s": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0}
    intervals = []
    for group in groups:
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            if job.name().startswith("count at"):
                out["count_jobs"] += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime(), done.getTime()))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(k), False, no_status,
                                           False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1e3
                    out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["job_s"] = _union_ms(intervals) / 1e3
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
