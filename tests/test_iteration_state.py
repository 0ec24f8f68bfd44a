"""Iteration-state hygiene for the path operators and cap visibility.

The loops in operators/paths.py are generational: each round cuts
its generation, and only the loop's pins (released on exit) enter the
CacheManager, so a deep search holds O(1) frames, not O(iterations).
The caps (VLE hop clamp, Dijkstra max_iters) must WARN and the LSH
bucket cap is announced with its audit — the workload promises no
silent caps. The superstep operators' Spark job counts are pinned,
and every iterative operator refuses a round budget below 1 the same
way."""

import logging

import pytest
from conftest import checkpoint_dirs, jobs_in
from pyspark.sql import functions as F

from agensgraph_spark.operators import _superstep as S
from agensgraph_spark.operators import paths as P
from agensgraph_spark.pipeline import dedup as D


def chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1, 100 + i, 1.0) for i in range(n)],
        "src long, dst long, eid long, w double")


def n_cached(spark) -> int:
    """CacheManager entries (df.cache/persist) — the store that leaked
    a frame per iteration before generational retirement."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_dijkstra_bounded_cached_frames(spark):
    pairs = spark.createDataFrame([(0, 15)], "seed long, target long")
    before = n_cached(spark)
    out = P.dijkstra_paths(chain_edges(spark, 15), pairs)  # 15 relaxation rounds
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["len"] == 15 and rows[0]["weight"] == 15.0
    after = n_cached(spark)
    # final paths generation + endpoint pair set stay pinned; every
    # superseded generation and the edge pin must be gone
    assert after - before <= 3, (before, after)


def test_dijkstra_cached_frames_independent_of_depth(spark):
    deltas = []
    for n in (5, 12):
        pairs = spark.createDataFrame([(0, n)], "seed long, target long")
        before = n_cached(spark)
        P.dijkstra_paths(chain_edges(spark, n), pairs).collect()
        deltas.append(n_cached(spark) - before)
    assert deltas[1] - deltas[0] <= 1, deltas


def test_bfs_bounded_cached_frames(spark):
    pairs = spark.createDataFrame([(0, 10), (0, 7)], "seed long, target long")
    before = n_cached(spark)
    out = P.bfs_shortest(chain_edges(spark, 10), pairs, 1, 10)  # deep loop
    got = {(r["seed"], r["target"]): r["len"] for r in out.collect()}
    assert got == {(0, 10): 10, (0, 7): 7}
    after = n_cached(spark)
    # hits live in a checkpointed accumulator; frontier generations,
    # the pair set and the edge pin are all retired on exit
    assert after - before <= 1, (before, after)


def test_vle_result_survives_edge_unpersist(spark):
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = P.vle_expand(chain_edges(spark, 6), seeds, 1, 6)
    assert out.count() == 6  # consumed after the edge pin was released


def test_vle_checkpoint_cadence_matches_python(spark, monkeypatch):
    """The frontier checkpoint cadence only truncates lineage: the
    default cadence and a checkpoint every second hop return the same
    paths, equal to a Python enumeration of the edge-unique walks."""
    rows = [(0, 1, 10), (1, 2, 11), (2, 0, 12), (1, 3, 13), (3, 1, 14),
            (2, 3, 15)]
    edges = spark.createDataFrame([(s, d, e, 1.0) for s, d, e in rows],
                                  "src long, dst long, eid long, w double")
    seeds = spark.createDataFrame([(0,)], "seed long")
    want = set()

    def walk(v, eids, vids):
        if eids:
            want.add((0, v, tuple(eids), tuple(vids), len(eids)))
        for s, d, e in rows:
            if s == v and e not in eids and len(eids) < 7:
                walk(d, eids + [e], vids + [d])

    walk(0, [], [])
    for every in (S._CHECKPOINT_EVERY, 2):
        monkeypatch.setattr(S, "_CHECKPOINT_EVERY", every)
        got = {(r.seed, r.dst, tuple(r.eids), tuple(r.vids), r.len)
               for r in P.vle_expand(edges, seeds, 1, 7).collect()}
        assert got == want, every


def test_vle_clamp_warns(spark, caplog):
    seeds = spark.createDataFrame([(0,)], "seed long")
    with caplog.at_level(logging.WARNING, logger="agensgraph_spark.operators.paths"):
        P.vle_expand(chain_edges(spark, 3), seeds, 1, 100)
    assert any("clamped" in r.getMessage() for r in caplog.records)


def test_dijkstra_max_iters_warns(spark, caplog):
    pairs = spark.createDataFrame([(0, 6)], "seed long, target long")
    with caplog.at_level(logging.WARNING, logger="agensgraph_spark.operators.paths"):
        out = P.dijkstra_paths(chain_edges(spark, 6), pairs, max_iters=3)
        out.collect()
    assert any("max_iters" in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 6])
def test_dijkstra_proven_depth_matches_unbounded(spark, n):
    """Every last-round shape: lazy over the seed checkpoint (1) or
    over a checkpointed generation (2-3) with the edge relation read
    raw, or cut inside the edge pin (4-6), so the returned frame never
    reads the released pin (no edge column in its plan)."""
    pairs = spark.createDataFrame([(0, n), (1, n)], "seed long, target long")
    free = sorted(P.dijkstra_paths(chain_edges(spark, n), pairs).collect())
    before = n_cached(spark)
    out = P.dijkstra_paths(chain_edges(spark, n), pairs, _depth=n)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert ("src#" in plan) == (n <= 3), plan
    assert sorted(out.collect()) == free
    assert n_cached(spark) - before <= 3


def _dup_docs(spark):
    # four identical docs -> every band bucket has 4 members; with
    # max_bucket=2 all buckets are dropped and zero candidates emerge
    return spark.createDataFrame(
        [(i, "the same exact text in every copy of this document") for i in range(4)],
        "doc_id long, text string")


def test_lsh_cap_announced_by_default(spark, caplog):
    """The cap is announced at build time, naming its audit — never
    silent — and stating how many buckets it dropped."""
    with caplog.at_level(logging.INFO, logger="agensgraph_spark.pipeline.dedup"):
        D.minhash_lsh_candidates(_dup_docs(spark), max_bucket=2)
    assert any("skew cap" in r.getMessage()
               and "lsh_skew_stats" in r.getMessage()
               for r in caplog.records)
    # every band's bucket holds all 4 docs: 8 dropped
    assert any("dropped 8 oversized" in r.getMessage()
               for r in caplog.records)


def test_lsh_skew_stats_counts_dropped(spark):
    row = D.lsh_skew_stats(_dup_docs(spark), max_bucket=2).collect()[0]
    assert row["n_dropped"] == 8  # every band's bucket holds all 4 docs
    assert row["max_bucket_size"] == 4
    row2 = D.lsh_skew_stats(_dup_docs(spark), max_bucket=10_000).collect()[0]
    assert row2["n_dropped"] == 0


def test_lsh_default_cap_keeps_buckets(spark):
    docs = spark.createDataFrame(
        [(i, "the same exact text in every copy of this document") for i in range(4)],
        "doc_id long, text string")
    assert D.minhash_lsh_candidates(docs).count() == 6  # all 4C2 pairs


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path,
                                                monkeypatch):
    """With spark.agensgraph.checkpointDir set, every iterative operator
    truncates lineage via reliable DataFrame.checkpoint — the path
    operators, pagerank past its cadence, k_core and the distributed
    SCC and connected_components loops: results identical to the
    default localCheckpoint mode, and each run writes checkpoint files
    under the configured directory (the executor-loss survival story
    depends on them existing)."""
    import os
    edges = chain_edges(spark, 8)
    seeds = spark.createDataFrame([(0,)], "seed long")
    pairs = spark.createDataFrame([(0, 6)], "seed long, target long")
    # a 7-hop expansion then checkpoints three times, not once
    monkeypatch.setattr(S, "_CHECKPOINT_EVERY", 2)
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    frames = _graph_frames(spark)
    runs = {
        "vle_expand": lambda: P.vle_expand(edges, seeds, 1, 7).select(
            "seed", "dst", "len"),
        "bfs_shortest": lambda: P.bfs_shortest(edges, pairs, 1, 7).select(
            "seed", "target", "len"),
        "dijkstra_paths": lambda: P.dijkstra_paths(
            edges, pairs, max_iters=10).select(
                "seed", "target", "len", "weight"),
        **{name: (lambda name=name: _run(name, frames))
           for name in ("pagerank", "k_core", "connected_components",
                        "strongly_connected_components")},
    }

    def rows(df):
        return sorted(tuple(round(x, 9) if isinstance(x, float) else x
                            for x in r) for r in df.collect())

    def files():
        return {os.path.join(dp, f)
                for dp, _, fs in os.walk(ckdir) for f in fs}

    base = {name: rows(run()) for name, run in runs.items()}
    assert base["bfs_shortest"] == [(0, 6, 6)]
    ckdir = str(tmp_path / "reliable_ck")
    spark.conf.set("spark.agensgraph.checkpointDir", ckdir)
    try:
        for name, run in runs.items():
            before = files()
            # hold the frame while listing: the ContextCleaner deletes
            # the checkpoint files of unreferenced frames
            df = run()
            assert rows(df) == base[name], name
            assert files() - before, f"{name}: no checkpoint under {ckdir}"
    finally:
        spark.conf.unset("spark.agensgraph.checkpointDir")


def test_reliable_mode_writes_every_cut(spark, tmp_path, monkeypatch):
    """In reliable-checkpoint mode each cut is written when it is made.
    hits at iters=3 cuts six frames: the vertex universe and the edge
    relation once, then the authority and hub frames of rounds 1 and 2.
    A lazy reliable checkpoint neither persists its frame nor is
    written unless it is the nearest marked ancestor of a job's RDD, so
    generations read only through a later cut would go unwritten."""
    frames = _graph_frames(spark)
    frame = type(frames[0])

    def rows(df):
        return sorted((r["id"], round(r["authority"], 9), round(r["hub"], 9))
                      for r in df.collect())

    base = rows(_run("hits", frames, iters=3))
    checkpoint = frame.checkpoint
    new_dirs = []

    def recording(self, *a, **kw):
        before = checkpoint_dirs(tmp_path / "ck")
        out = checkpoint(self, *a, **kw)
        new_dirs.append(len(checkpoint_dirs(tmp_path / "ck") - before))
        return out

    monkeypatch.setattr(frame, "checkpoint", recording)
    spark.conf.set("spark.agensgraph.checkpointDir", str(tmp_path / "ck"))
    try:
        df = _run("hits", frames, iters=3)
        assert new_dirs == [1] * 6
        assert rows(df) == base
    finally:
        spark.conf.unset("spark.agensgraph.checkpointDir")


def test_reliable_mode_follows_conf_changes(spark, tmp_path):
    """A session that points spark.agensgraph.checkpointDir elsewhere
    writes its later reliable checkpoints under the new directory, not
    under the first one the conf named."""
    for d in ("a", "b"):
        spark.conf.set("spark.agensgraph.checkpointDir", str(tmp_path / d))
        try:
            # hold the frame: the ContextCleaner deletes the files of
            # unreferenced frames
            df = S.truncate(spark.range(3))
            assert checkpoint_dirs(tmp_path / d) and df.count() == 3, d
        finally:
            spark.conf.unset("spark.agensgraph.checkpointDir")


def _graph_frames(spark):
    """A K5 sharing vertices with a K4 through bridge edges, a pendant
    vertex 20 and an isolated 21. The back edges 4->0, 13->10 and
    20->0 close two directed cycles, so SCC runs its settle rounds;
    k_truss at k=4 peels twice in its incremental regime."""
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    k4 = [(a + 10, b + 10) for a, b in
          [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]]
    rows = k5 + k4 + [(4, 10), (3, 11), (4, 11), (0, 20), (1, 20),
                      (4, 0), (13, 10), (20, 0)]
    e = spark.createDataFrame(rows, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(22)], "id long")
    src = spark.createDataFrame([(0,), (10,)], "id long")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3), 2.0]) for i in range(22)],
        "vec_id long, embedding array<double>")
    return e, v, src, e.toDF("id_a", "id_b"), emb


def _iterative_ops():
    """name -> (operator, its frames from _graph_frames, keywords)."""
    from agensgraph_spark.operators import analytics as AN
    from agensgraph_spark.pipeline import similarity as SIM
    ev = lambda e, v, s, p, m: (e, v)  # noqa: E731
    evs = lambda e, v, s, p, m: (e, v, s)  # noqa: E731
    return {
        # 7 rounds: the sparse operators cut their lineage at round 6
        "pagerank": (AN.pagerank, ev, {"iters": 7}),
        "label_propagation": (AN.label_propagation, ev, {"iters": 7}),
        "personalized_pagerank":
            (AN.personalized_pagerank, evs, {"iters": 7}),
        "random_walks":
            (AN.random_walks, lambda e, v, s, p, m: (e, s), {"steps": 7}),
        "hits": (AN.hits, ev, {}),
        "k_core": (AN.k_core, lambda e, v, s, p, m: (e,), {"k": 3}),
        "k_truss": (AN.k_truss, lambda e, v, s, p, m: (e,), {"k": 4}),
        "harmonic_centrality":
            (AN.harmonic_centrality, ev, {"max_hops": 3}),
        "harmonic_centrality_sampled":
            (AN.harmonic_centrality_sampled, evs, {"max_hops": 3}),
        "betweenness_centrality_sampled":
            (AN.betweenness_centrality_sampled, evs, {"max_hops": 3}),
        "strongly_connected_components":
            (AN.strongly_connected_components, ev, {}),
        "connected_components":
            (D.connected_components, lambda e, v, s, p, m: (p,), {}),
        "neighbor_mean_embeddings":
            (SIM.neighbor_mean_embeddings, lambda e, v, s, p, m: (p, m),
             {"rounds": 2}),
        "dijkstra_paths":
            (P.dijkstra_paths,
             lambda e, v, s, p, m: (
                 e.select("src", "dst", F.xxhash64("src", "dst").alias("eid"),
                          F.lit(1.0).alias("w")),
                 p.toDF("seed", "target")), {}),
    }


def _run(name, frames, **kw):
    """Operator ``name`` on ``frames``, its keywords overridden by
    ``kw``."""
    op, args, kw0 = _iterative_ops()[name]
    return op(*args(*frames), **{**kw0, **kw})


# Spark jobs per call (construction plus one collect) on _graph_frames,
# local[4], AQE on: the range seen in 30 runs of each before the loops
# shared one superstep helper (60 for k_truss and betweenness), and in
# 30 after. Identical calls differ by up to three jobs, so each pin is the
# earlier maximum plus its spread: a loop that gains a count, a probe
# or an eager checkpoint per round still shows here.
#   operator                        before   after
#   pagerank                        29-30    29-30
#   label_propagation               31       31
#   personalized_pagerank           36-37    36-37
#   random_walks                    10       10
#   hits                            63       63
#   k_core                          18       17
#   k_truss                         39-42    39-42
#   harmonic_centrality             24       24
#   harmonic_centrality_sampled     31       31
#   betweenness_centrality_sampled  46-49    46-47
#   strongly_connected_components   138      138
#   connected_components            42-44    42-44
#   neighbor_mean_embeddings        12       11
_JOBS_AT_MOST = {
    "pagerank": 31, "label_propagation": 31, "personalized_pagerank": 38,
    "random_walks": 10, "hits": 63, "k_core": 18, "k_truss": 45,
    "harmonic_centrality": 24, "harmonic_centrality_sampled": 31,
    "betweenness_centrality_sampled": 52,
    "strongly_connected_components": 138, "connected_components": 46,
    "neighbor_mean_embeddings": 12,
}


@pytest.mark.parametrize("name", sorted(_JOBS_AT_MOST))
def test_iterative_op_job_counts(spark, monkeypatch, name):
    """Job counts of every superstep operator stay at or under their
    pins. SCC and connected_components run their distributed loops
    (no driver-local regime)."""
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    frames = _graph_frames(spark)
    assert jobs_in(spark, lambda: _run(name, frames).collect()) <= \
        _JOBS_AT_MOST[name]


# the round-budget arguments of each iterative operator
_BUDGETS = {
    "pagerank": ("iters",), "label_propagation": ("iters",),
    "personalized_pagerank": ("iters",), "random_walks": ("steps",),
    "hits": ("iters",), "k_core": ("max_iters",), "k_truss": ("max_iters",),
    "harmonic_centrality": ("max_hops",),
    "harmonic_centrality_sampled": ("max_hops",),
    "betweenness_centrality_sampled": ("max_hops",),
    "strongly_connected_components": ("max_rounds", "max_iters"),
    "connected_components": ("max_iters",),
    "neighbor_mean_embeddings": ("rounds",),
    "dijkstra_paths": ("max_iters",),
}


@pytest.mark.parametrize("name,budget,regime", [
    (name, budget, regime) for name, budgets in sorted(_BUDGETS.items())
    for budget in budgets
    for regime in (("driver", "distributed")
                   if name in ("strongly_connected_components",
                               "connected_components") else ("default",))])
@pytest.mark.parametrize("rounds", [0, -1])
def test_round_budget_below_one_refused(spark, monkeypatch, name, budget,
                                        regime, rounds):
    """Every iterative operator refuses a round budget below 1 with the
    same ValueError naming the operator and its budget argument, before
    it runs a Spark job. That includes dijkstra_paths, which keeps its
    own loop, and SCC and connected_components in both regimes (a
    negative budget used to return the initial state of some and raise
    in others; a zero budget returned labels from the driver regime and
    raised only from the distributed one)."""
    if regime == "distributed":
        monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    frames = _graph_frames(spark)

    def refused():
        with pytest.raises(
                ValueError,
                match=f"^{name}: {budget}={rounds} must be at least 1$"):
            _run(name, frames, **{budget: rounds})

    assert jobs_in(spark, refused) == 0
