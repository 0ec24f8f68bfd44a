"""Three-decade scale probe: the bench's 7-query probe set timed at
sf0.1 -> sf1 -> sf10 (two genuine 10x data decades on the hash-seeded
corpus from tools/gen_true_sf1.py — no replica uniformity, the honest
shape for SQL/graph/path queries; see scale_audit.py for the full
headline set at one decade).

Per-decade time ratios near the 10x data ratio (or below) mean the
plans are data-bound — no supra-linear term has appeared by 100x the
bench corpus. Each dataset gets one untimed JIT/warm circuit, then a
warm pass, then the timed pass (min of 2), same methodology as
bench.py's sf_scale_probe.

Usage: python tools/scale_decades.py [probe ...]
(sf10 generation ~60M lineitem rows; first run takes a few minutes to
write ~2 GB of parquet under .scaledata/sf10_true)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from agensgraph_spark import get_spark, workload  # noqa: E402

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the bench's probe-7: both iterative pipeline operators are always in,
# the rest are the most expensive headline queries (BENCH_r10 order)
PROBE7 = ["dedup_cluster", "graph_pagerank", "dedup_minhash_lsh",
          "cy_dijkstra", "cy_match_2hop_agg", "sql_tpch_q5",
          "cy_shortestpath"]
# r12 extension: the newest gate rows (r9-r11 seats) get third-decade
# evidence too — trained-quantizer dedup, corpus-trained LM scoring,
# IVF ANN, and the multimodal metadata path.
# dedup_semantic is probed as "dedup_semantic_scaled" (below), NOT via
# the registry row: the row fixes n_lists=16 at every sf (an
# oracle-replay constraint), which makes the within-cluster quadratic
# term grow as (N/16)^2 — at sf10 that is ~2e9 pairs, quadratic BY
# CONFIGURATION, not an implementation property. The operator's
# documented contract is to raise n_lists with corpus size; the scaled
# probe holds expected cluster size at ~1000 vectors, the shape a real
# deployment runs. (Before methodology v2 this mattered less because
# count() collapsed the row's pair join entirely — the r11 "flat"
# dedup_semantic decades were an artifact of that collapse.)
PROBE_EXTRA = ["dedup_semantic_scaled", "text_lm_perplexity",
               "ann_cosine_ivf", "mm_frame_sample",
               # r12 additions: the data-sized new operators (the graph
               # rows run on the fixed-shape hierarchy graph and scale
               # with supplier count; dup_spans/dsir/sessionize scale
               # with the documents/events corpora)
               "dedup_dup_spans", "dsir_importance", "sessionize_events",
               # graph_hits: vertex-sized score state, scales with the
               # supplier count per decade. graph_harmonic is EXCLUDED
               # deliberately: its k-hop pair state on the DENSE
               # hierarchy graph is |suppliers| x (suppliers/nation) at
               # hop 2 (sf10: 1M x 40k = 4e10 pairs) — the operator's
               # documented bounded-radius contract (the caller chooses
               # the state budget; a 2-hop radius on this graph blows
               # it), not a scaling defect of the implementation.
               # graph_harmonic_sampled IS probed: seed-bounded state
               # (25 nation seeds) is the documented dense-graph config
               "graph_hits", "graph_harmonic_sampled",
               # r13 skew probes: the two window operators on corpora
               # deliberately skewed the way their production inputs
               # are — one domain holding 30% of all docs, one user
               # holding 30% of all events — exercising the two-phase
               # cap and the bucketed sessionization shapes whose
               # whole point is surviving exactly this input
               "cap_per_group_hot", "sessionize_skewed_user",
               # r14 probes: fuzzy decontamination must inherit the
               # minhash banding shape UNCHANGED through the
               # parity-encoded union (the registry row scales with the
               # documents corpus: train = all docs, eval = the %17
               # slice); epoch_shuffle at a trainer-realistic shard
               # count (512 shards -> ~1000 docs/shard at sf10), where
               # a hidden global sort or a straggler shard would show
               # as a supra-linear decade or a long-tail task
               "fuzzy_decontaminate", "epoch_shuffle_sharded",
               # r14: the filtered-ANN serving path — the predicate
               # semi-join must compose with IVF probing (per-query
               # work stays n_probe/n_lists of the FILTERED corpus);
               # a supra-linear decade here would mean the filter is
               # secretly forcing a brute pair join
               "ann_filtered_ivf",
               # r14 second wave: BM25 is the inverted-index join —
               # constant query set (8 corpus-derived queries), corpus
               # grows 10x per decade, so a supra-linear decade would
               # mean scoring stopped being bounded by matched posting
               # lists; graph_scc runs the FW-BW-Trim rounds on the
               # lineitem part-transition digraph (edge count scales
               # with lineitem); chunk_documents is map-only and pins
               # the trivially-linear baseline the others are read
               # against
               "bm25_topk", "graph_scc", "chunk_documents"]
PROBE = PROBE7 + PROBE_EXTRA



def _materialize(df) -> None:
    """Full-plan materialization via the noop sink. `.count()` is NOT a
    valid probe action for every query: Catalyst's outer-join
    elimination collapses left-join-shaped pipelines under count()
    (dedup_dup_spans probed 0.29s by count at sf10 vs ~59s real work;
    dsir_importance 0.30s vs ~12s) — the noop write executes the whole
    plan and discards rows executor-side, no driver transfer."""
    df.write.format("noop").mode("overwrite").save()


_SEM_CENTS: dict[str, tuple[int, list]] = {}


def _semantic_scaled(spark, d: str):
    """semantic_dedup at its documented scale configuration: n_lists
    grows with the corpus so the expected cluster holds ~1000 vectors
    (constant within-cluster work per row — linear total). Centroids
    are trained once per dataset OUTSIDE the timed call, the same
    index-build/query split the ANN rows use (the registry row caches
    its training the same way)."""
    from agensgraph_spark.pipeline import similarity as S
    emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    got = _SEM_CENTS.get(d)
    if got is None:
        n = emb.count()
        k = max(16, n // 1000)
        means = S.train_ivf_centroids(emb, n_lists=k, rounds=1, dim=64)
        got = (k, S.unit_normalized(means))
        _SEM_CENTS[d] = got
    k, cents = got
    # the library default is None (exact, opt-in cap) — the scale
    # config passes the production cap explicitly, like the registry row
    return S.semantic_dedup(emb, tau=0.2, cents=cents, dim=64,
                            max_cluster=10_000)


def _cap_hot(spark, d: str):
    """cap_per_group on a deliberately Zipf-broken corpus: one synthetic
    domain absorbs 30% of ALL documents (doc_id % 10 < 3 — determinism
    without Date/random). The two-phase salted cap must split that
    domain's rank-sort across `sampling._SKEW_BUCKETS` (32) tasks;
    before round 13 the single-window form would have put 30% of the
    corpus in ONE task."""
    from agensgraph_spark.pipeline.sampling import cap_per_group
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    hot = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 10 < 3, F.lit("hot-domain"))
        .otherwise(F.col("source")))
    return cap_per_group(hot, "source", 100)


def _sessionize_skewed(spark, d: str):
    """Batch sessionization + per-session rollup on a bot-shaped event
    log: one synthetic user owns 30% of ALL events. Runs the bucketed
    skew-safe mode (1-day buckets, 30-min gap) — the configuration the
    operator documents for exactly this input; the single-window mode
    would sort the bot's 30% share in one task."""
    from agensgraph_spark.operators.temporal import assign_sessions
    ev = (spark.read.parquet(os.path.join(d, "events.parquet"))
          .select("event_id", "user_id", "ts", "value"))
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))).drop("event_id")
    s = assign_sessions(hot, "user_id", "ts", gap_seconds=1800,
                        bucket_seconds=86400)
    return (s.groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("ss"), F.max("ts").alias("se"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("double")).alias("total_value")))


def _epoch_shuffle_sharded(spark, d: str):
    """epoch_shuffle at a trainer-realistic shard count: 512 shards
    (the registry row fixes n_shards=8 for oracle compactness). The
    (shard, pos) address stays a pure function of (seed, id); the work
    is one exchange on the shard key + per-shard rank windows — more
    shards means SMALLER windows, so the probe also catches any
    accidental global sort (which would not care about n_shards)."""
    from agensgraph_spark.pipeline.sampling import epoch_shuffle
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    return epoch_shuffle(docs, seed="ep1", n_shards=512).select(
        "doc_id", "shard", "pos")


def main() -> None:
    # optional argv subset: probe only the named queries (new-probe
    # iteration without the full ~50-materialization circuit). Ratios
    # stay comparable — query-major order means each query's three
    # datasets share adjacent session state either way.
    probe = PROBE
    if len(sys.argv) > 1:
        unknown = [a for a in sys.argv[1:] if a not in PROBE]
        if unknown:
            raise SystemExit(f"unknown probe(s): {unknown}; "
                             f"known: {PROBE}")
        probe = sys.argv[1:]
    # Spark's Python workers import the package too; without this they
    # resolve it from their working directory, not from this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("scale-decades")
    spark.sparkContext.setLogLevel("ERROR")
    qs = workload.all_queries()
    qs = dict(qs)
    qs["dedup_semantic_scaled"] = _semantic_scaled
    qs["cap_per_group_hot"] = _cap_hot
    qs["sessionize_skewed_user"] = _sessionize_skewed
    qs["epoch_shuffle_sharded"] = _epoch_shuffle_sharded
    import gen_true_sf1

    sf1_dir = os.path.join(_ROOT, ".scaledata", "sf1_true")
    sf10_dir = os.path.join(_ROOT, ".scaledata", "sf10_true")
    if not os.path.isdir(sf1_dir):
        gen_true_sf1.generate(spark, sf1_dir, scale=10)
    if not os.path.isdir(sf10_dir):
        t0 = time.time()
        gen_true_sf1.generate(spark, sf10_dir, scale=100)
        print(f"# sf10 generated in {time.time() - t0:.0f}s", file=sys.stderr)

    datasets = [("/root/testdata/sf0.1", "sf0.1"),
                (sf1_dir, "sf1"), (sf10_dir, "sf10")]
    # untimed JIT circuit on the SMALLEST dataset only: codegen/JIT
    # warming is per-code-path, not per-data; each (query, dataset)
    # still gets its own warm pass below before timing (the full
    # three-dataset circuit doubled the probe's wall clock for no
    # extra signal)
    for name in probe:
        _materialize(qs[name](spark, datasets[0][0]))
    gc.collect()
    # QUERY-MAJOR ORDER (round 13): the former dataset-major loop put
    # every sf10 timing at the END of a ~50-materialization session,
    # where accumulated cross-query state (superseded localCheckpoint
    # blocks, JVM heap shape — the r12-documented dedup_cluster
    # 3.8s-in-sequence vs 1.2s-isolated effect) inflates LATE timings.
    # That bias GROWS with the probe-set size and lands entirely on the
    # decade-2 ratios. Running each query's three datasets back-to-back
    # means a ratio's numerator and denominator share adjacent session
    # state; absolute values may still drift late in the sequence, but
    # the RATIOS — the probe's product — no longer absorb the
    # sequence-position bias. (Empirically: the 18-query dataset-major
    # run read minhash decade-2 at 11.3 and lm_perplexity at 13.8; the
    # same build query-major reads them data-bound again.)
    results: dict[str, dict[str, float]] = {}
    for name in probe:
        for d, tag in datasets:
            _materialize(qs[name](spark, d))   # per-(query,dataset) warm
            ts = []
            for _ in range(2):                 # timed: min of 2
                t0 = time.time()
                _materialize(qs[name](spark, d))
                ts.append(time.time() - t0)
            results.setdefault(name, {})[tag] = round(min(ts), 2)
        # per-query GC: release superseded localCheckpoint refs so the
        # next query starts from flat executor storage
        gc.collect()

    print(f"{'query':22s} {'sf0.1':>7s} {'sf1':>7s} {'sf10':>8s} "
          "r(0.1->1) r(1->10)   (10x data per decade)")
    payload = {}
    for name in probe:
        r = results[name]
        r1 = r["sf1"] / max(r["sf0.1"], 0.01)
        r2 = r["sf10"] / max(r["sf1"], 0.01)
        payload[name] = {**r, "ratio_decade1": round(r1, 2),
                         "ratio_decade2": round(r2, 2)}
        print(f"{name:22s} {r['sf0.1']:7.2f} {r['sf1']:7.2f} "
              f"{r['sf10']:8.2f} {r1:9.2f} {r2:8.2f}")
    print(json.dumps({"scale_decades": payload}))


if __name__ == "__main__":
    main()
