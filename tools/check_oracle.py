"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at the same sf, compare
row-count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from mapreduce_sssp_spark.dtype_parity import (  # noqa: E402
    dtype_drift,
    output_dtype_risks,
)
from mapreduce_sssp_spark.io.sources import TABLES  # noqa: E402
from mapreduce_sssp_spark.session import get_spark  # noqa: E402


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(canon_cell(x) for x in v)
    return v


def _sort_cell(x):
    # Floats are rounded to 9 significant digits in the SORT KEY ONLY, so
    # a sub-tolerance deviation between engines cannot reorder the two row
    # lists differently and produce a spurious mismatch on unrelated rows.
    # Decimal gets the same canonical form: when a DuckDB column drifts
    # to DECIMAL/HUGEINT its verbatim str ('5.00') would sort differently
    # from the float form ('5.000000000e+00'), making genuine dtype drift
    # surface as a confusing VALUE-MISMATCH on unrelated rows instead of
    # the intended DTYPE-DRIFT label.
    if isinstance(x, float):
        return f"{x:.9e}"
    if isinstance(x, decimal.Decimal):
        return f"{float(x):.9e}"
    return str(x)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, _sort_cell(x)) for x in t))
    return sorted(cols), out


def approx_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            # -0.0 == 0.0 in IEEE, but the driver's stringified hash sees
            # '-0.0' vs '0.0' — the exact false-negative that shipped a
            # red longest_path_dag row in round 6. Surface it as drift.
            if a == 0.0 and math.copysign(1.0, a) != math.copysign(1.0, b):
                return True, "reprdrift"
            return True, 0.0
        d = abs(a - b) / max(abs(a), abs(b), 1e-12)
        return d < 1e-9, d
    if type(a) is not type(b) and a is not None and b is not None:
        # Values equal but types drift (e.g. DuckDB HUGEINT/DECIMAL vs
        # Spark bigint/double): Python == passes, but the driver's
        # value-hash stringifies per-dtype and fails. Surface it.
        return a == b, "typedrift"
    return a == b, None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if os.environ.get("CHECK_ORACLE_VANILLA"):
        # Reproduce the external driver's environment: a plain session with
        # none of get_spark()'s tuning (no UTC TZ, no checkpoint dir, stock
        # confs). Every query must be self-sufficient on such a session —
        # round 1 shipped a checkpoint-dir crash that only this catches.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-oracle-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    # Untimed session warm-up, same rationale as bench.py: JIT/codegen/
    # shuffle init and the first pandas-exchanging stage (Python worker
    # spawn + pandas/pyarrow import per core) are one-time session costs
    # that would otherwise be billed to whichever query runs first.
    warm = spark.range(0, 100_000, 1, 8).selectExpr("id", "id % 97 AS k")
    warm.join(warm.groupBy("k").count(), "k").count()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 10, 1, cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # One crashing query must not abort a whole-registry sweep: the
        # external driver records err per query and keeps going, and the
        # adversarial campaigns need the FULL breakage list in one pass.
        try:
            sdf = fn(spark, sf_dir)
            # Driver-canonicalizer parity: the external driver sorts the
            # pandas frame by every column before hashing, and list/dict
            # cells raise "unhashable type" there (the exact r7
            # inverted_index red row). The local tuple-izing canon_cell()
            # tolerated them — reject nested output columns outright so
            # local green implies driver green.
            nested = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if nested:
                print(f"  {name:28s} NESTED-OUTPUT {nested} — driver "
                      f"canonicalizer cannot hash list/dict cells; "
                      f"serialize to a canonical string "
                      f"(array_join/concat_ws)")
                failures.append((name, f"nested output columns: {nested}"))
                continue
            # Output-dtype whitelist (r11): flag non-portable output
            # dtypes even when every value matches — dtype-hash
            # divergence is fetch-path dependent (r10 moments_value:
            # bit-identical values, driver hash RED on decimal outputs).
            risks = output_dtype_risks(sdf.schema)
            if risks:
                print(f"  {name:28s} DTYPE-RISK {risks} — cast to "
                      f"STRING/BIGINT at the output projection")
                failures.append(
                    (name, f"non-whitelisted output dtypes: {risks}")
                )
                continue
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            spark_t = time.time() - t0
            if name not in oracles:
                print(f"  {name:28s} rows={len(srows):7d}  "
                      f"(rows-only, no oracle) [spark {spark_t:.1f}s]")
                if len(srows) == 0:
                    failures.append((name, "zero rows"))
                continue
            t0 = time.time()
            # Arrow fetch (not fetchall) so column dtypes survive:
            # fetchall erases HUGEINT -> int / DECIMAL -> Decimal-or-
            # float and hides the drift that fails the driver's
            # dtype-sensitive hash.
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols = list(tbl.column_names)
            cols_py = [
                tbl.column(i).to_pylist() for i in range(tbl.num_columns)
            ]
            drows = list(zip(*cols_py)) if cols_py else []
            duck_t = time.time() - t0
            status, detail = compare(name, scols, srows, dcols, drows)
            drifts = dtype_drift(sdf.schema, tbl.schema)
            if drifts and status == "OK":
                status, detail = "DTYPE-DRIFT", "; ".join(drifts)
            print(f"  {name:28s} rows={len(srows):7d}  {status:18s} "
                  f"[spark {spark_t:.1f}s duck {duck_t:.1f}s] {detail}")
            if status != "OK":
                failures.append((name, detail))
        except Exception as e:  # noqa: BLE001 — sweep must see them all
            first = str(e).splitlines()[0][:300] if str(e) else repr(e)
            print(f"  {name:28s} CRASH              {first}")
            failures.append((name, f"CRASH: {first}"))
    print()
    if failures:
        print("FAILURES:")
        for n, d in failures:
            print(f"  {n}: {d}")
        sys.exit(1)
    print("all checks passed")


def compare(name, scols, srows, dcols, drows):
    if sorted(scols) != sorted(dcols):
        return "SCHEMA-MISMATCH", f"spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return "ROWCOUNT-MISMATCH", f"spark={len(srows)} duck={len(drows)}"
    _, sc = canon_rows(scols, srows)
    _, dc = canon_rows(dcols, drows)
    max_float_dev = 0.0
    type_drift = False
    repr_drift = False
    for i, (a, b) in enumerate(zip(sc, dc)):
        for x, y in zip(a, b):
            eq, dev = approx_equal(x, y)
            if dev == "typedrift":
                type_drift = True
            elif dev == "reprdrift":
                repr_drift = True
            elif dev:
                max_float_dev = max(max_float_dev, dev)
            if not eq:
                return "VALUE-MISMATCH", f"row {i}: {a} != {b}"
    if repr_drift:
        return (
            "REPR-DRIFT",
            "(sign-of-zero differs: -0.0 vs 0.0 — driver hash WILL fail; "
            "use F.lit(0.0) - col instead of unary negation)",
        )
    if type_drift:
        return "OK", "(TYPE DRIFT — values equal, dtypes differ; driver hash may fail)"
    if max_float_dev > 0:
        return "OK", f"(float dev {max_float_dev:.2e} — NOT bit-exact, driver hash may fail)"
    return "OK", ""


if __name__ == "__main__":
    main()
