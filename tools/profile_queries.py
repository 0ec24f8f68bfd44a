"""Per-query profiler for the optimization rounds: for each headline
query, separately time (a) DataFrame construction — the driver-side
Python/parse/plan-build path — and (b) execution via the noop sink
(guide §1.4), and optionally dump `.explain("formatted")` to a plans
directory.

Usage:
    python tools/profile_queries.py [--plans plans/r14 --suffix before]
                                    [--passes 2] [name ...]

Prints one line per query: name, construct seconds (min of N),
execute seconds (min of N), and writes <name>_<suffix>.txt when
--plans is given. Not part of the driver contract — a development
tool; bench.py stays the artifact of record.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from agensgraph_spark import get_spark  # noqa: E402
from agensgraph_spark import workload  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import bench
    names = args.names or bench.HEADLINE
    # Spark's Python workers import the package too; without this they
    # resolve it from their working directory, not from this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = workload.all_queries()

    # warmup (same as bench.py)
    from agensgraph_spark.loader import read_table
    read_table(spark, args.sf_dir, "lineitem").count()
    workload._engine(spark, args.sf_dir).cypher(
        "MATCH (n:nation)-[:in_region]->(r:region) "
        "RETURN count(*) AS n").count()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    import gc
    rows = []
    for name in names:
        fn = queries[name]
        cts, ets = [], []
        df = None
        for _ in range(args.passes):
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            t1 = time.time()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            spark.sparkContext.setJobDescription(None)
            cts.append(t1 - t0)
            ets.append(t2 - t1)
        if args.plans and df is not None:
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        c, e = min(cts), min(ets)
        rows.append((name, c, e))
        print(f"{name:32s} construct={c:6.2f}s execute={e:6.2f}s "
              f"total={c + e:6.2f}s", flush=True)
        gc.collect()
    rows.sort(key=lambda r: -(r[1] + r[2]))
    print("\n# by total cost:")
    for name, c, e in rows:
        print(f"# {name:32s} c={c:5.2f} e={e:5.2f} t={c + e:5.2f}")


if __name__ == "__main__":
    main()
