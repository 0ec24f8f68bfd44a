"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_cypher --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload (one client; the next op starts when the
previous one finished) against a local Spark session with one core per
CPU, then prints one JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from a run whose rounds
alternate between untraced and traced. See perfbench/README.md.

Everything the run reads or writes stays inside the checkout:
``.perfbench_data`` (generated corpus and cached oracle hashes),
``.perfbench_tmp`` (Spark's temporary files) and ``.perfbench_out`` (span dumps
and the per-run host-noise record).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import hostnoise  # noqa: E402
import layers  # noqa: E402
import oracles  # noqa: E402
from tracing import Tracer, instrument  # noqa: E402
from workloads import TRACE_TARGETS, WORKLOADS  # noqa: E402

from agensgraph_spark import get_spark  # noqa: E402


def _env() -> None:
    """Spark knobs and temporary-file locations, set before the JVM starts."""
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed-size heap: peak RSS then tracks what the run touches, not
    # when the collector chose to grow the heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--driver-java-options -Xms2g pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    """Geometric mean of per-template medians: a typical op's latency,
    every template weighted equally in ratio. A pooled median of a
    round's 7-13 clustered latencies sits wherever one template happens
    to land and jumps between templates from run to run; this moves
    with every template at once."""
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def _mix_rate(samples: dict[str, list[float]]) -> float:
    """Ops per second of the balanced mix: templates per summed
    per-template median."""
    meds = [_median(v) for v in samples.values() if v]
    return len(meds) / sum(meds) if meds else 0.0


def _samples(recs: list[dict], templates: list[str], traced: bool) -> dict:
    return {t: [r["s"] for r in recs if r["template"] == t and r["traced"] == traced]
            for t in templates}


class Run:
    """One benchmark run: set-up, warm-up, check, timed loop, report."""

    def __init__(self, args, spark, sf_dir: str, refs: dict[str, str],
                 get_spark_s: float) -> None:
        self.args, self.spark, self.sf_dir, self.refs = args, spark, sf_dir, refs
        self.get_spark_s = get_spark_s
        self.wl = WORKLOADS[args.workload](spark, sf_dir, random.Random(args.seed))
        self.tracer = Tracer(spark.sparkContext)
        self.jvm = hostnoise.JvmCounters(spark)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAIL {what}", file=sys.stderr)

    def op(self, template: str, collect: bool = False, traced: bool = False):
        """One op: the layer call that builds the DataFrame, then its
        materialisation (noop sink, or collect() for the check).
        Returns (record, collected (columns, rows) or None); the record
        is None when the op raised."""
        tr = self.tracer
        self.attempted += 1
        tr.active = traced
        root = tr.open(f"op.{template}", template=template)
        rows = None
        try:
            t0 = time.perf_counter()
            df = self.wl.call(template)
            t1 = time.perf_counter()
            ex = tr.open("spark.exec")
            try:
                if collect:
                    rows = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            finally:
                tr.close(ex)
            t2 = time.perf_counter()
        except Exception:
            self.fail(f"{self.wl.name}/{template}: {traceback.format_exc(limit=3)}")
            return None, None
        finally:
            tr.close(root)
            tr.active = False
        rec = {"template": template, "s": t2 - t0, "construct_s": t1 - t0,
               "exec_s": t2 - t1, "traced": traced,
               "span": root.id if root else None, **self.wl.after_op(template)}
        if root is not None:
            tr.resolve_jobs(tr.spans[root.id:])
        return rec, rows

    def setup(self) -> None:
        """State build (repeated inside the workload, median kept), then
        one warm-up round; checked templates are collected for check()."""
        self.setup_layers = self.wl.setup()
        self.collected, self.warm = {}, []
        t0 = time.perf_counter()
        for t in self.wl.round():
            rec, rows = self.op(t, collect=t in self.wl.checked)
            self.warm.append(rec)
            if rows is not None:
                self.collected[t] = rows
        self.warmup_s = time.perf_counter() - t0
        self.phases["setup_done"] = time.perf_counter() - T0

    def check(self) -> None:
        """Hash-compare each checked warm-up output with its oracle."""
        for t in self.wl.checked:
            self.attempted += 1
            if t not in self.collected:
                self.fail(f"{self.wl.name}/{t}: no warm-up output to check")
                continue
            cols, rows = self.collected[t]
            if self.args.corrupt == t:
                rows = rows[1:] if rows else [(None,) * len(cols)]
            want = (oracles.point_read_hash(self.sf_dir, self.wl.first_read_key)
                    if t == "w_point_read" else self.refs[t])
            if oracles.result_hash(cols, rows) != want:
                self.fail(f"{self.wl.name}/{t}: output differs from its oracle")
        self.phases["checked"] = time.perf_counter() - T0

    def loop(self) -> None:
        """Whole rounds until --seconds have passed; a traced run
        alternates untraced and traced rounds, at least one of each."""
        a = self.args
        self.recs, self.rounds = [], []
        cpu0, jvm0 = hostnoise.tree_cpu_s(os.getpid()), self.jvm.snapshot()
        host0 = host = hostnoise.cpu_times()
        jvm = jvm0
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < a.seconds or (a.trace and len(self.rounds) < 2):
            traced = bool(a.trace) and len(self.rounds) % 2 == 1
            for t in self.wl.round():
                rec, _ = self.op(t, traced=traced)
                if rec is not None:
                    self.recs.append(rec)
            now, jvm_now = hostnoise.cpu_times(), self.jvm.snapshot()
            self.rounds.append({"traced": traced, "steal_pct": hostnoise.steal_pct(host, now),
                                "jit_ms": jvm_now[0] - jvm[0], "gc_ms": jvm_now[1] - jvm[1]})
            host, jvm = now, jvm_now
        self.measured_s = time.perf_counter() - t_start
        self.noise = {"steal_pct": hostnoise.steal_pct(host0, host),
                      "jit_ms": jvm[0] - jvm0[0], "gc_ms": jvm[1] - jvm0[1],
                      "cpu_s": hostnoise.tree_cpu_s(os.getpid()) - cpu0}

    def finish(self) -> None:
        """Untimed end-state check, the MinHash yield probe (traced
        pipeline runs) and peak memory."""
        self.attempted += 1
        for p in self.wl.final_check(self.args.corrupt):
            self.fail(f"{self.wl.name}/final: {p}")
        self.lsh_yield = 0.0
        if self.args.trace and self.wl.name == "pipeline_batch":
            self.lsh_yield = _lsh_yield(self.spark, self.sf_dir, self.collected)
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss_mb = hostnoise.peak_rss_mb([os.getpid(), jvm_pid])
        self.phases["finished"] = time.perf_counter() - T0

    def record(self, out_dir: str) -> None:
        """The host-noise record of the run, on disk and on stderr."""
        a, n = self.args, self.noise
        tag = f"{self.wl.name}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
            json.dump({"workload": self.wl.name, "seed": a.seed, "trace": a.trace,
                       "measured_s": self.measured_s, "rounds": self.rounds, **n,
                       "get_spark_s": self.get_spark_s, "setup_layers": self.setup_layers,
                       "phases": self.phases, "warmup_ops": self.warm, "ops": self.recs,
                       "problems": self.problems}, f)
        if a.trace:
            self.tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
        print(f"perfbench: {tag} rounds={len(self.rounds)} ops={len(self.recs)} "
              f"measured={self.measured_s:.1f}s steal={n['steal_pct']:.1f}% "
              f"jit={n['jit_ms']:.0f}ms gc={n['gc_ms']:.0f}ms per-round steal="
              f"{[round(r['steal_pct'], 1) for r in self.rounds]}", file=sys.stderr)

    def end_to_end(self) -> dict:
        samples = _samples(self.recs, self.wl.templates, traced=False)
        meds = [_median(v) for v in samples.values() if v]
        setup_s = self.get_spark_s + sum(self.setup_layers.values()) + self.warmup_s
        return {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (_mix_rate(samples), "1/s"),
            "op_geomean_s": (_geomean(meds), "s"),
            "ok_frac": (1.0 - self.failed / max(1, self.attempted), "ratio"),
            "peak_rss_mb": (self.rss_mb, "MiB"),
        }

    def per_layer(self) -> dict:
        untraced = _samples(self.recs, self.wl.templates, traced=False)
        traced = _samples(self.recs, self.wl.templates, traced=True)
        n_ops, n = max(1, len(self.recs)), self.noise
        m = layers.layer_metrics(self.tracer, [r for r in self.recs if r["traced"]])
        m.update({
            "session.get_spark_s": (self.get_spark_s, "s"),
            "warmup_s": (self.warmup_s, "s"),
            "host.steal_pct": (n["steal_pct"], "%"),
            "jvm.jit_ms_per_op": (n["jit_ms"] / n_ops, "ms"),
            "jvm.gc_ms_per_op": (n["gc_ms"] / n_ops, "ms"),
            "proc.cpu_s_per_op": (n["cpu_s"] / n_ops, "s"),
            "trace.overhead_ops_per_s": (_mix_rate(untraced) - _mix_rate(traced), "1/s"),
            "pipeline.dedup.lsh_verify_yield": (self.lsh_yield, "ratio"),
        })
        for k in layers.SETUP_LAYERS:
            m[k] = (self.setup_layers.get(k, 0.0), "s")
        for t in layers.ALL_TEMPLATES:
            m[f"op_s.{t}"] = (_median(untraced.get(t, [])), "s")
        return m


def _lsh_yield(spark, sf_dir: str, collected: dict) -> float:
    """Verified MinHash pairs per estimate-filtered LSH candidate, with
    the registry op's parameters (untimed)."""
    from agensgraph_spark.loader import read_table
    from agensgraph_spark.pipeline import dedup as D
    docs = read_table(spark, sf_dir, "documents")
    cands = D.minhash_lsh_candidates(docs, min_est=0.3, hash_fn="md5").count()
    verified = len(collected.get("dedup_minhash_lsh", (None, []))[1])
    return verified / cands if cands else 0.0


def _stop(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="corpus scale factor (default 0.1; the smoke test uses 0.001)")
    p.add_argument("--corrupt", default=None, metavar="TEMPLATE",
                   help="perturb this template's checked output (smoke test of the check)")
    args = p.parse_args(argv)
    _env()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    # inputs and reference answers first: generated once per checkout
    sf_dir = datagen.ensure_corpus(os.path.join(ROOT, ".perfbench_data"), args.sf)
    wl_cls = WORKLOADS[args.workload]
    refs = oracles.reference_hashes(sf_dir, [t for t in wl_cls.checked
                                             if t != "w_point_read"])

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = Run(args, spark, sf_dir, refs, time.perf_counter() - t0)
        if args.trace:
            instrument(run.tracer, TRACE_TARGETS)
        run.setup()
        run.check()
        run.loop()
        run.finish()
        run.record(out_dir)
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        _stop(spark)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
