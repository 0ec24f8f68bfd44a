"""Iteration-state hygiene for the path operators and cap visibility.

The loops in operators/paths.py are generational: each round retires
the superseded cached generation (GraphX-Pregel style), so a deep
search pins O(1) frames, not O(iterations). The caps (VLE hop clamp,
Dijkstra max_iters) must WARN and the LSH bucket cap is announced with
its audit — the workload promises no silent caps."""

import logging

import pytest
from pyspark.sql import functions as F

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
    for every in (P._CHECKPOINT_EVERY, 2):
        monkeypatch.setattr(P, "_CHECKPOINT_EVERY", every)
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
    """Every last-round shape: lazy over the seed checkpoint (1), over
    cache()-era generations (2-4), over a checkpointed one (5-6)."""
    pairs = spark.createDataFrame([(0, n), (1, n)], "seed long, target long")
    free = sorted(P.dijkstra_paths(chain_edges(spark, n), pairs).collect())
    before = n_cached(spark)
    out = P.dijkstra_paths(chain_edges(spark, n), pairs, _depth=n)
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
    """With spark.agensgraph.checkpointDir set, the iterative path
    operators truncate lineage via reliable DataFrame.checkpoint —
    results identical to the default localCheckpoint mode, and the
    checkpoint files actually land in the configured directory (the
    executor-loss survival story depends on them existing)."""
    import os
    edges = chain_edges(spark, 8)
    seeds = spark.createDataFrame([(0,)], "seed long")
    pairs = spark.createDataFrame([(0, 6)], "seed long, target long")
    # a 7-hop expansion then checkpoints three times, not once
    monkeypatch.setattr(P, "_CHECKPOINT_EVERY", 2)

    def run_all():
        vle = sorted(tuple(r) for r in P.vle_expand(
            edges, seeds, 1, 7).select(
                "seed", "dst", "len").collect())
        bfs = sorted(tuple(r) for r in P.bfs_shortest(
            edges, pairs, 1, 7).select("seed", "target", "len").collect())
        dij = sorted(tuple(r) for r in P.dijkstra_paths(
            edges, pairs, max_iters=10).select(
                "seed", "target", "len", "weight").collect())
        return vle, bfs, dij

    base = run_all()
    ckdir = str(tmp_path / "reliable_ck")
    spark.conf.set("spark.agensgraph.checkpointDir", ckdir)
    try:
        reliable = run_all()
    finally:
        spark.conf.unset("spark.agensgraph.checkpointDir")
    assert reliable == base
    assert base[1] == [(0, 6, 6)]
    # reliable checkpoint files were written under the configured dir
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(ckdir) for f in fs]
    assert files, f"no checkpoint files under {ckdir}"
