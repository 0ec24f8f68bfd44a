"""Interleaved A/B runner for one-query drift investigations.

Runs ONE headline query in a fresh process (fresh JVM + session), N
warm invocations, prints min/median execute seconds as JSON on the
last line. A wrapper shell loop alternates repo checkouts (worktrees)
so host-state drift affects both sides equally — the methodology the
r14 verdict asks for to settle dedup_minhash_lsh (item 3).

Usage:
    python <repo>/tools/ab_interleaved.py <query> [n_invocations]

Not part of the driver contract — a development tool."""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from agensgraph_spark import get_spark, workload  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Spark's Python workers import the package too; without this they
    # resolve it from their working directory, not from this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")
    queries = workload.all_queries()
    from agensgraph_spark.loader import read_table
    read_table(spark, sf_dir, "lineitem").count()

    fn = queries[name]
    # one untimed warm circuit (codegen, parquet footers)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    import gc
    times = []
    for _ in range(n):
        gc.collect()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    s = sorted(times)
    print(json.dumps({
        "query": name,
        "times": times,
        "min": s[0],
        "median": s[len(s) // 2],
        "load1": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
