"""Dump `.explain("formatted")` for named queries to plans/<dir>/.

Usage: python tools/dump_plan.py <dir> <suffix> <query>[,query2,...]

Writes plans/<dir>/<query>_<suffix>.txt for each query. bench.prepare
runs first (like the bench), so a query that reads a shared state shows
its benched shape (flat memoized inputs, not the inlined fixpoint).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = [s for s in sys.argv[3].split(",") if s]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import prepare
    from mapreduce_sssp_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-plan")
    queries = entrymod.queries()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        out_dir,
    )
    os.makedirs(root, exist_ok=True)
    for name in names:
        prepare(spark, sf_dir, name)
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(root, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
