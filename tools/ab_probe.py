"""In-process A/B probe for single queries (r13 optimization round).

Usage: python tools/ab_probe.py <query>[,query2,...] [n_samples]

Times each named query with the bench's own methodology — bench's
warm-up, noop sink, shared states cleared between samples, and
bench.prepare before the timer so a query that reads a shared state
measures its marginal cost, as the bench records it — and prints
min/median of N samples. For A/B runs, run this before and after an
edit on a quiet host; samples alternate nothing (single variant), so
edit-compare-edit loops should keep the host load equal.
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

    results: dict[str, list[float]] = {n: [] for n in names}
    for s in range(n_samples):
        for name in names:
            clear_shared_state()
            prepare(spark, sf_dir, name)
            spark.sparkContext.setJobDescription(f"ab:{name}#{s}")
            t0 = time.time()
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.time() - t0
            results[name].append(dt)
            print(f"[ab] {name} sample {s}: {dt:.3f}s", file=sys.stderr)
    for name in names:
        xs = results[name]
        print(
            f"{name}: min={min(xs):.3f} med={statistics.median(xs):.3f} "
            f"samples={[round(x, 3) for x in xs]}"
        )


if __name__ == "__main__":
    main()
