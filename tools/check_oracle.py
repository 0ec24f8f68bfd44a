"""Local replica of the driver's correctness gate: run each declared
query on Spark and its oracle on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from agensgraph_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm_cell(v):
    import datetime
    import math
    if v is None:
        return (1, 0)  # nulls sort last, compare equal to each other
    if isinstance(v, float):
        if math.isnan(v):
            return (0, "nan")
        return (0, round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return (0, str(v))
    if isinstance(v, tuple):
        # hashable container: PySpark Row subclasses tuple (struct
        # cells), and the driver's pandas factorize accepts it — recurse
        return (0, tuple(norm_cell(x) for x in v))
    if isinstance(v, (list, dict, set)):
        # The DRIVER's pandas canonicalizer cannot factorize unhashable
        # cells (TypeError: unhashable type) — treat them as a failure
        # locally so they never reach the driver gate. Stringify
        # (array_join / array_to_string) on both sides instead.
        raise TypeError(
            f"container cell {type(v).__name__} in result — driver's "
            "canonicalizer rejects it; stringify the column on both sides")
    return (0, v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main(names: list[str]) -> int:
    import __spark_entry__ as entry_mod
    # Spark's Python workers import the package too; without this they
    # resolve it from their working directory, not from this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    sel = names or list(queries)
    failures = 0
    for name in sel:
        t0 = time.time()
        try:
            sdf = queries[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {el:.1f}s) [no oracle]")
            if len(srows) == 0:
                print(f"     WARNING: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns differ spark={sorted(scols)} duck={sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: row count spark={len(srows)} duck={len(drows)}")
            failures += 1
            continue
        try:
            a = norm_rows(scols, srows)
            b = norm_rows(dcols, drows)
        except TypeError as ex:
            print(f"FAIL {name}: canonicalize error: {ex}")
            failures += 1
            continue
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            failures += 1
            continue
        print(f"PASS {name} ({len(srows)} rows, {el:.1f}s)")
    print(f"\n{len(sel) - failures}/{len(sel)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
