"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from agensgraph_spark import get_spark  # noqa: E402
from agensgraph_spark import workload  # noqa: E402

HEADLINE = [
    "cy_match_1hop",
    "cy_match_2hop_agg",
    "cy_optional_match",
    "cy_vle_reach",
    "cy_shortestpath",
    "cy_with_having",
    "sql_tpch_q1",
    "sql_tpch_q3",
    "sql_tpch_q5",
    "sql_window_rank",
    "sql_events_hourly",
    "cy_dijkstra",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_stats",
    "text_bpe_tokens",
    "lang_id",
    "ann_cosine_topk",
    "mm_frame_sample",
    "graphmeta_edge_stats",
    "dedup_cluster",
    "heuristic_filter",
    "mix_sample",
    "pack_sequences",
    "asof_join_events",
    "range_join_events",
    "graph_pagerank",
    # round-9 additions — the headline total grew by their cost (~1.8s
    # at sf0.1); round-over-round comparisons should use per-query
    # values or the shared-29 subset
    "text_lm_perplexity",
    "dedup_semantic",
    # round-11 additions (PG formatting family, ~0.5s at sf0.1):
    # same caveat — compare per-query across rounds
    "sql_to_char",
    "sql_to_char_num",
    # round-12 additions (the data-sized new pipeline operators,
    # ~1.7s at sf0.1 quiet): same caveat — per-query comparisons
    "dedup_dup_spans",
    "dsir_importance",
    "sessionize_events",
    # round-13 additions: the seed-bounded sampled centrality, the
    # epoch-shuffle address assignment, and the cluster-canonical
    # argmax composition. Same caveat — per-query comparisons.
    "graph_harmonic_sampled",
    "epoch_shuffle",
    "dedup_keep_best",
    # round-14 addition: the filtered-ANN serving path (predicate
    # semi-join composed with IVF probing) — THE production vector
    # query. Same caveat — per-query comparisons.
    "ann_filtered_ivf",
    # round-14 second wave: the lexical retrieval serving row (BM25
    # inverted-index join) and the map-only RAG chunking pass. Same
    # caveat — per-query comparisons across rounds.
    "bm25_topk",
    "chunk_documents",
    # round-15 addition (r14 verdict item 7): the streaming family's
    # first TIMED row — the hourly rollup executed for REAL through
    # Structured Streaming (file source -> watermarked window agg ->
    # memory sink, availableNow trigger) during query construction;
    # the noop write materializes the sink table. Same caveat —
    # per-query comparisons across rounds.
    "stream_events_hourly",
]


# A busy neighbour: runnable tasks outside this bench's own process
# tree (the bench, its Spark JVM and the JVM's Python workers), sampled
# before each pass. More than this many in any pass marks the run
# unusable. Calibrated by one idle run and one run with a planted
# `python -c 'while 1: pass'` sibling (CHANGES.md has both).
_OTHER_RUNNABLE_MAX = 0


def _other_runnable() -> int | None:
    """Tasks in state R that belong to processes outside this bench's
    process tree, read from /proc: the minimum over 5 snapshots 0.2 s
    apart, so a one-off wakeup does not count but a neighbour spinning
    through the whole second does. None when /proc cannot be read
    (non-Linux dev box)."""
    def stat_fields(path: str) -> list[str]:
        with open(path) as f:
            text = f.read()
        return text[text.rindex(")") + 2:].split()  # skip "pid (comm) "

    counts = []
    for i in range(5):
        if i:
            time.sleep(0.2)
        try:
            pids = [int(d) for d in os.listdir("/proc") if d.isdigit()]
        except OSError:
            return None
        parent = {}
        for pid in pids:
            try:
                parent[pid] = int(stat_fields(f"/proc/{pid}/stat")[1])
            except (OSError, ValueError):
                pass  # exited between listdir and read
        mine, kids = set(), {os.getpid()}
        while kids:
            mine |= kids
            kids = {p for p, pp in parent.items() if pp in kids}
        n = 0
        for pid in parent.keys() - mine:
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    n += stat_fields(f"/proc/{pid}/task/{tid}/stat")[0] == "R"
            except (OSError, ValueError):
                pass
        counts.append(n)
    return min(counts)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Wait-for-quiet BEFORE the JVM spins up: BENCH_r11 archived a loud
    # run (load1 5.11 at start) and every same-set query read +8-52% —
    # ambient load, not a code regression, but the artifact was tainted.
    # Sampling here (not after warmup) keeps the bench's own 32-thread
    # spin-up/warmup burst out of the ambient measurement; if the
    # machine never quiets, the final JSON is marked usable=false so a
    # loud artifact is self-disqualifying instead of silently misleading.
    load_warn_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_WARN", "1.5"))
    quiet_wait_sec = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "300"))
    waited = 0.0
    while (os.getloadavg()[0] > load_warn_threshold and waited < quiet_wait_sec):
        print(f"# waiting for quiet: load1={os.getloadavg()[0]:.2f} > "
              f"{load_warn_threshold} ({waited:.0f}/{quiet_wait_sec:.0f}s)",
              file=sys.stderr)
        time.sleep(15)
        waited += 15
    ambient_load1 = round(os.getloadavg()[0], 2)
    spark = get_spark("agensgraph-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = workload.all_queries()

    # steady-state warmup: spin up the JVM, parquet footers, and codegen
    # paths once so per-query timings measure the operators, not session
    # bring-up (the 100 TB deployment amortizes bring-up the same way)
    from agensgraph_spark.loader import read_table
    read_table(spark, sf_dir, "lineitem").count()
    workload._engine(spark, sf_dir).cypher(
        "MATCH (n:nation)-[:in_region]->(r:region) RETURN count(*) AS n").count()

    # N full passes (default 3), report min AND median per query:
    # single-pass timings at sf0.1 carry ±40% sub-second scheduler/GC
    # noise that has whipsawed round-over-round comparisons (the round-8
    # cy_* "regression" was mostly ambient load — load1 6.35 at exit).
    # min is the steady-state estimator; the min/median spread plus the
    # per-pass load1 capture makes noise-vs-regression DECIDABLE from
    # the artifact alone. All passes are emitted on stderr.
    import gc
    n_passes = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    passes: list[dict[str, float]] = []
    # the guard keys on the PRE-spin-up ambient sample: load measured
    # here would include the bench's own JVM/warmup burst (a ~2s spike
    # at 32 runnable threads adds ~1.0 to load1 by itself)
    def _cpu_stat():
        """(total_jiffies, steal_jiffies) across all CPUs, or None when
        /proc/stat is unavailable (non-Linux dev box) — the mid-run
        contention gate then degrades to ambient-only."""
        try:
            parts = open("/proc/stat").readline().split()[1:11]
            vals = [int(x) for x in parts]
            return (sum(vals), vals[7])
        except Exception:
            return None

    pass_load: list[float] = [ambient_load1]
    pass_stat: list = [_cpu_stat()]
    pass_other: list[int] = []
    if pass_load[0] > load_warn_threshold:
        print(f"# WARN: ambient load1={pass_load[0]} before JVM spin-up "
              f"after {waited:.0f}s wait-for-quiet — timings below are "
              "suspect (see README noise methodology); the final JSON "
              "carries load1_warn=true AND usable=false", file=sys.stderr)
    for p in range(n_passes):
        other = _other_runnable()
        if other is not None:
            pass_other.append(other)
        timings: dict[str, float] = {}
        for name in HEADLINE:
            fn = queries[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            # METHODOLOGY v2 (round 12): full-plan materialization via
            # the noop sink, not `.count()`. Catalyst's outer-join
            # elimination collapses left-join-shaped pipelines under
            # count() — dedup_dup_spans read 0.29s by count at sf10 vs
            # ~59s of real work; dsir_importance 0.30s vs ~12s — and
            # count() also prunes every computed column of map-only
            # rows. The noop write executes the whole plan executor-side
            # with no driver transfer. Round-over-round comparisons vs
            # r11 and earlier are valid only per-query for rows whose
            # plan count() could not collapse (joins/aggregates); the
            # JSON carries measure="noop_write" so artifacts from the
            # two methodologies are never silently mixed.
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = dt
            print(f"# pass{p + 1} {name}: {dt:.2f}s", file=sys.stderr)
        # iterative operators (paths, CC, dedup) release superseded
        # localCheckpoint RDDs on GC; dozens of queries between Python
        # collections can leave executor storage pinned and whipsaw
        # late-section timings (observed: a 20x dijkstra outlier in the
        # 100x probe that vanished in a fresh session)
        gc.collect()
        passes.append(timings)
        pass_load.append(round(os.getloadavg()[0], 2))
        pass_stat.append(_cpu_stat())

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return round(s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2, 3)

    # Mid-run noise detection (r14 verdict item 2): the pre-spin-up
    # ambient sample cannot see contention that starts DURING the
    # passes — BENCH_r14 self-reported usable with ambient 1.46 while
    # its timings were 1.3-3x the same-code 8-core leg. Two mid-run
    # signals, with different trust levels:
    #
    # * load1_max_pass (max post-pass load1) is ARCHIVED AS EVIDENCE
    #   but does NOT gate `usable`: load1 counts this process's own
    #   runnable threads, and a fully-busy 32-core pass legitimately
    #   reads 6-9 here (calibrated r15: a 10 s 32-way spin alone reads
    #   load1 5.9 on an otherwise-idle host) and scales with pass
    #   duration — on a slower host the same clean bench would read
    #   20+. It still exposes CO-TENANT guest processes to a reader
    #   comparing artifacts.
    # * steal_pct_max (max per-pass hypervisor steal share from
    #   /proc/stat) DOES gate `usable`: steal time is CPU the guest
    #   wanted and did not get — precisely the condition that inflates
    #   wall-clock timings — and is ~0% idle / <2% under full self-load
    #   (r15 calibration), so a high reading cannot be the bench's own
    #   burst. The r14 "loud host, zero guest processes" pattern is
    #   exactly what this catches. Threshold calibration (r15): clean
    #   full benches read 1.25-1.9%; a run at 5.1% measured every row
    #   ~30% inflated — so the gate sits at 3.5, 2x above the clean
    #   self-load envelope and well under the first observed tainted
    #   reading.
    steal_warn_threshold = float(
        os.environ.get("SPARK_GRAFT_STEAL_WARN", "3.5"))
    load1_max_pass = max(pass_load[1:]) if len(pass_load) > 1 else 0.0
    steal_pcts = []
    for a, b in zip(pass_stat, pass_stat[1:]):
        if a is None or b is None or b[0] <= a[0]:
            continue
        steal_pcts.append(round((b[1] - a[1]) / (b[0] - a[0]) * 100, 2))
    steal_pct_max = max(steal_pcts) if steal_pcts else None
    print(f"# steal_pct_per_pass: {steal_pcts}", file=sys.stderr)
    other_runnable_max = max(pass_other) if pass_other else None
    print(f"# other_runnable_per_pass: {pass_other}", file=sys.stderr)

    best = {name: min(ps[name] for ps in passes) for name in HEADLINE}
    med = {name: _median([ps[name] for ps in passes]) for name in HEADLINE}
    total = round(sum(best.values()), 3)
    # Per-pass detail goes to STDERR only: round 5 embedded the full
    # `passes` array in the final stdout line and the driver's tail
    # capture could no longer parse the headline JSON. The LAST stdout
    # line must stay the compact shape the driver parses.
    print(f"# passes: {json.dumps(passes)}", file=sys.stderr)
    print(f"# load1_per_pass (ambient pre-spin-up, after p1..pN): "
          f"{pass_load}", file=sys.stderr)
    for name in HEADLINE:
        ts = sorted(ps[name] for ps in passes)
        print(f"# spread {name}: min={ts[0]} med={med[name]} max={ts[-1]}",
              file=sys.stderr)
    # The medians used to ride on the stdout line too; round 12's 36-row
    # queries+queries_median pair grew the line to ~2,130 chars and the
    # driver's 2000-char tail capture archived parsed:null. Medians are
    # still emitted — as their own stderr JSON line — and the stdout
    # budget is enforced below with a hard assert.
    print(f"# queries_median: {json.dumps(med)}", file=sys.stderr)
    print(f"# cold_total_sec: {round(sum(passes[0].values()), 3)} "
          f"warm_total_sec: {round(sum(passes[-1].values()), 3)}",
          file=sys.stderr)

    # Scale probe: re-run the 5 most expensive headline queries at a
    # 10x-smaller scale factor and report the time ratio — a direct
    # (if coarse) empirical check that the plans scale ~linearly in
    # data volume rather than super-linearly. JVM/codegen are warm for
    # both sides (the big side is best-of-2, the small side runs after
    # two full passes), so the ratio measures the operators.
    probe_dir = "/root/testdata/sf0.01"
    try:
        # the probe compares against sf0.01, so the data ratio follows
        # the ACTUAL benchmark sf (10 at the default sf0.1, 100 at sf1)
        data_ratio = round(float(sf) / 0.01)
    except ValueError:
        data_ratio = None
    # 7 probe queries: the two iterative pipeline operators the round-8
    # probe set missed (dedup_cluster, graph_pagerank) are always in —
    # the probe must cover every iterative family — and the rest
    # backfill most-expensive-first
    by_cost = sorted(best, key=lambda q: best[q], reverse=True)
    top5 = ["dedup_cluster", "graph_pagerank"]
    top5 += [q for q in by_cost if q not in top5][:5]
    if (data_ratio is not None and os.path.isdir(probe_dir)
            and os.path.abspath(probe_dir) != os.path.abspath(sf_dir)):
        gc.collect()  # release checkpoint pins before the probe timings

        def best_of_2(name: str, d: str) -> float:
            # probe timings get the same best-of-2 estimator as the
            # headline: single-shot probe numbers late in a 65-query
            # session whipsawed run-over-run (one-off GC/cleaner
            # hiccups read as fake super-linear ratios)
            ts = []
            for _ in range(2):
                t0 = time.time()
                queries[name](spark, d).write.format("noop") \
                    .mode("overwrite").save()
                ts.append(round(time.time() - t0, 3))
            return min(ts)

        probe: dict[str, dict] = {}
        for name in top5:
            small = best_of_2(name, probe_dir)
            probe[name] = {
                "small": small, "big": best[name],
                "ratio": round(best[name] / small, 2) if small > 0 else None,
            }
        payload = {"sf_scale_probe": {
            "small_sf": 0.01, "big_sf": sf, "data_ratio": data_ratio,
            "queries": probe}}
        # Second empirical point: a 10x-UPSAMPLED corpus (sf1-equivalent,
        # ~6M lineitem / 50k docs — tools/gen_scale_corpus.py upsamples
        # sf0.1 with per-replica key offsets + vocabulary permutations so
        # per-replica workloads are exactly the original and candidates
        # scale linearly). Together the two points span 100x data
        # (sf0.01 -> sf0.1 -> sf1); ratio_100x = t(sf1) / t(sf0.1).
        big_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               ".scaledata", "sf1")
        try:
            if not os.path.isdir(big_dir):
                sys.path.insert(0, os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), "tools"))
                import gen_scale_corpus
                gen_scale_corpus.generate(spark, big_dir)
            gc.collect()
            probe2: dict[str, dict] = {}
            for name in top5:
                t_big = best_of_2(name, big_dir)
                probe2[name] = {
                    "mid": best[name], "big": t_big,
                    "ratio": round(t_big / best[name], 2) if best[name] > 0 else None,
                }
            payload["sf_scale_probe"]["point_100x"] = {
                "mid_sf": sf, "big_sf": "1 (upsampled)", "data_ratio": 10,
                "queries": probe2}
        except Exception as exc:  # the 100x point is evidence, not a gate
            print(f"# 100x probe skipped: {exc}", file=sys.stderr)
        print(json.dumps(payload))
    # FINAL STDOUT LINE — the driver keeps only the LAST 2000 CHARS of
    # stdout and parses the last line as JSON. Round 5 learned "last
    # line must be the compact JSON"; round 12 learned the sharper rule:
    # the last line must FIT IN 2000 BYTES (the 36-row queries +
    # queries_median pair hit ~2,130 chars and BENCH_r12.json archived
    # parsed:null). So the stdout line carries ONLY the driver-needed
    # fields — per-query mins at 2 decimals, no medians, no per-pass
    # loads (both on stderr above) — and a hard assert enforces the
    # budget with headroom so adding rows fails THIS run loudly instead
    # of silently truncating in the archive.
    line = json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        # methodology v2 (round 12): timings materialize the FULL plan
        # via the noop sink — see the loop comment; artifacts without
        # this field (r11 and earlier) timed `.count()`, which Catalyst
        # could collapse for left-join-shaped or map-only plans
        "measure": "noop_write",
        # min-of-N per query, rounded to 2 decimals (the 3rd decimal is
        # scheduler noise and costs ~36 bytes of line budget)
        "queries": {k: round(v, 2) for k, v in best.items()},
        "n_passes": n_passes,
        # self-describing loud-run flag: only the PRE-SPIN-UP sample is
        # ambient (later samples reflect the bench's own 32-thread
        # work), so the guard keys on it; a warned run's timings are
        # suspect per the README noise methodology (min-of-N mitigates
        # but does not erase contention)
        "load1_warn": pass_load[0] > load_warn_threshold,
        # usable=false ⇔ the pre-pass-1 sample stayed loud after the
        # bounded wait-for-quiet loop (the r11 lesson — a loud archived
        # run is worse than no run) OR the hypervisor withheld CPU
        # during any pass (the r14 lesson — ambient-clean runs can be
        # tainted mid-pass by external host load; steal%, unlike
        # load1, cannot be the bench's own burst — see the mid-run
        # detection comment above): round-over-round comparisons MUST
        # skip this artifact
        # ... OR another process kept a CPU busy before a pass
        "usable": (pass_load[0] <= load_warn_threshold
                   and (steal_pct_max is None
                        or steal_pct_max <= steal_warn_threshold)
                   and (other_runnable_max is None
                        or other_runnable_max <= _OTHER_RUNNABLE_MAX)),
        "ambient_load1": pass_load[0],
        # max of the per-pass (post-pass) load1 samples — EVIDENCE, not
        # a gate: includes the bench's own burst (6-9 at 32 cores,
        # duration-dependent), but exposes co-tenant guest processes
        "load1_max_pass": load1_max_pass,
        # max per-pass hypervisor steal share (%, /proc/stat) — the
        # mid-run gate; null when /proc/stat is unavailable
        "steal_pct_max": steal_pct_max,
        # max per-pass runnable tasks of processes outside the bench's
        # tree (/proc); null when /proc is unavailable
        "other_runnable_max": other_runnable_max,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }, separators=(",", ":"))
    # 1800 not 2000: headroom for ~8 more headline rows before anyone
    # has to think about this again; when it trips, move fields to
    # stderr or shorten query keys — do NOT raise the limit.
    assert len(line) < 1800, (
        f"bench stdout line is {len(line)} chars; the driver's tail "
        "capture holds 2000 — slim the line (move fields to stderr), "
        "do not let it archive truncated")
    print(line)


if __name__ == "__main__":
    main()
