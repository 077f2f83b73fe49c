"""In-process A/B probe for single queries (r13 optimization round).

Usage: python tools/ab_probe.py <query>[,query2,...] [n_samples]

Times each named query with the bench's own methodology — bench's
warm-up, noop sink, shared states cleared between samples, and
bench.prepare before the timer so a query that reads a shared state
measures its marginal cost, as the bench records it — and prints
min/median of N samples. Each sample line also carries the codegen
classes compiled and the JVM's JIT compile milliseconds during the
sample, both read outside the timer: a sample bound by compilation
rather than by the query shows there. For A/B runs, run this before
and after an edit on a quiet host; samples alternate nothing (single
variant), so edit-compare-edit loops should keep the host load equal.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [s for s in sys.argv[1].split(",") if s]
    n_samples = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import prepare, warm_up
    from mapreduce_sssp_spark.session import get_spark
    from mapreduce_sssp_spark.runstate import clear_shared_state

    spark = get_spark(app_name="spark-graft-ab")
    queries = entrymod.queries()
    warm_up(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    results: dict[str, list[float]] = {n: [] for n in names}
    for s in range(n_samples):
        for name in names:
            clear_shared_state()
            prepare(spark, sf_dir, name)
            spark.sparkContext.setJobDescription(f"ab:{name}#{s}")
            compiles0, jit0 = codegen.getCount(), jit.getTotalCompilationTime()
            t0 = time.time()
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.time() - t0
            compiles = codegen.getCount() - compiles0
            jit_ms = jit.getTotalCompilationTime() - jit0
            results[name].append(dt)
            print(
                f"[ab] {name} sample {s}: {dt:.3f}s codegen={compiles} "
                f"jit_ms={jit_ms}",
                file=sys.stderr,
            )
    for name in names:
        xs = results[name]
        print(
            f"{name}: min={min(xs):.3f} med={statistics.median(xs):.3f} "
            f"samples={[round(x, 3) for x in xs]}"
        )


if __name__ == "__main__":
    main()
