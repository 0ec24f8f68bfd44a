"""Scale guards for pipeline operators: dimension-side broadcasts must
be size-conditional — an unconditional hint on a corpus-sized table
OOMs at 100 TB, so past the estimate limit the frame passes through
unhinted and AQE picks the strategy."""

import re

import pytest
from pyspark.sql import functions as F

from agensgraph_spark.pipeline import dedup as D
from agensgraph_spark.pipeline.util import maybe_broadcast

SF_DIR = "/root/testdata/sf0.001"


def test_maybe_broadcast_small_hints(spark):
    df = spark.range(10)
    assert maybe_broadcast(df, 100) is not df  # hinted copy


def test_maybe_broadcast_large_passes_through(spark):
    df = spark.range(10)
    # 10 rows x 10 MiB estimate > 64 MiB limit → unchanged frame
    assert maybe_broadcast(df, 10 << 20) is df


def test_maybe_broadcast_counts_when_unknown(spark):
    df = spark.range(1000)
    assert maybe_broadcast(df, 16) is not df


def test_salted_join_matches_unsalted(spark):
    """Skew salting must be a pure physical rewrite: same rows out."""
    from agensgraph_spark.pipeline.util import salted_join
    from pyspark.sql import functions as F
    # skewed big side: 90% of rows share key 0
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 50)
        .alias("k"), F.col("id").alias("v"))
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w"))
    got = salted_join(big, small, "k").groupBy("k").count()
    exp = big.join(small, "k").groupBy("k").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_rate_threshold_edges():
    from agensgraph_spark.pipeline.sampling import rate_threshold
    import pytest as _pytest
    assert rate_threshold(0.0) == "0000"      # keeps nothing
    assert rate_threshold(1.0) == "g"         # sorts after all hex
    assert rate_threshold(0.25) == "4000"
    assert "ffff" < rate_threshold(1.0)       # the 1.0 edge keeps 'ffff'
    with _pytest.raises(ValueError):
        rate_threshold(1.5)


def test_mix_sample_partitioning_independent(spark):
    """The keep-decision is a pure function of the key: the same rows
    survive regardless of physical layout (unlike .sample/sampleBy)."""
    from agensgraph_spark.pipeline.sampling import mix_sample
    from pyspark.sql import functions as F
    df = spark.range(0, 2_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("src"))
    rates = {"0": 0.2, "1": 1.0}
    a = mix_sample(df, "src", rates, "id", default_rate=0.5)
    b = mix_sample(df.repartition(17), "src", rates, "id", default_rate=0.5)
    ra = sorted(r["id"] for r in a.collect())
    rb = sorted(r["id"] for r in b.collect())
    assert ra == rb and 0 < len(ra) < 2_000
    # stratum "1" is kept in full
    assert a.filter("src = '1'").count() == df.filter("src = '1'").count()


def test_heuristic_filter_signals(spark):
    from agensgraph_spark.pipeline.text import heuristic_filter
    rows = [
        (1, " ".join(f"word{chr(97+i%26)}{chr(97+i//26)}" for i in range(30))),  # clean: keep
        (2, "short doc"),                                  # too few tokens
        (3, " ".join(["dup"] * 40)),                       # ttr collapse
        (4, " ".join(["{code}"] + [f"tok{chr(97+i%26)}{chr(97+i//26)}" for i in range(30)])),  # brace
        (5, "Lorem Ipsum " + " ".join(f"alpha{chr(97+i%26)}{chr(97+i//26)}" for i in range(30))),
        (6, " ".join(str(i) for i in range(100, 140))),    # all digits
        (7, ""),                                           # empty
    ]
    got = {r["doc_id"]: r["keep"]
           for r in heuristic_filter(
               spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False,
                   5: False, 6: False, 7: False}


def test_repetition_stats_hand_computed(spark):
    from agensgraph_spark.pipeline.text import repetition_stats
    rows = [
        # 4 lines, 'same' twice: dup_line_bp = 1/4 = 2500;
        # chars: same(4)*2 + one(3) + two(3) = 14, dup mass 4 -> 2857
        (1, "same\none\nsame\ntwo"),
        # modal bigram 'a b' fills every slot: 'a b a b a' -> bigrams
        # [a b, b a, a b, b a] -> best 2 of 4 -> 5000; 5-gram count 1
        (2, "a b a b a"),
        # no repetition at all (long enough that the modal bigram's
        # trivial 1/n share clears the 18% gate)
        (3, "u v w x y z a b"),
        (4, ""),  # degenerate: single empty line, no tokens
    ]
    got = {r["doc_id"]: r for r in repetition_stats(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert got[1]["n_lines"] == 4 and got[1]["dup_line_bp"] == 2500
    assert got[1]["dup_line_char_bp"] == 2857
    assert got[2]["top_bigram_bp"] == 5000 and got[2]["keep"] is False
    assert got[3]["dup_line_bp"] == 0 and got[3]["top_bigram_bp"] == 1428
    assert got[3]["dup_fivegram_bp"] == 0 and got[3]["keep"] is True
    assert got[4]["n_lines"] == 1 and got[4]["keep"] is True


def test_pq_encode_and_topk(spark):
    """PQ: codebook donors encode to their own code (distance 0, tie
    to lowest index); a vector equal to donor j in every subspace
    scores ~0 against query=donor j; ranks are deterministic."""
    from agensgraph_spark.pipeline.similarity import (pq_codebooks,
                                                      pq_encode, pq_topk)
    import random
    rng = random.Random(7)
    dim, m = 8, 4
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
    rows.append((20, list(rows[3][1])))  # exact copy of donor 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(df, m=m, k=8)
    enc = {r["vec_id"]: tuple(r[f"c{s}"] for s in range(m))
           for r in pq_encode(df, books).collect()}
    for j in range(8):          # donor j's subvectors ARE book entry j
        assert enc[j] == (j, j, j, j)
    assert enc[20] == (3, 3, 3, 3)
    top = pq_topk(df, df.filter("vec_id = 3"), books, k=3).collect()
    assert [r["neighbor_id"] for r in top][0] == 20   # the exact copy
    assert top[0]["score"] == 0.0
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_quantize_embeddings_roundtrip(spark):
    from agensgraph_spark.pipeline.similarity import quantize_embeddings
    rows = [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0]), (3, [2.0])]
    out = {r["vec_id"]: r for r in quantize_embeddings(
        spark.createDataFrame(rows, ["vec_id", "embedding"])).collect()}
    # max-magnitude slot hits ±127 (floor(-127.0) for the negative max)
    assert out[1]["q"] == [63, -127, 31, 0]
    assert abs(out[1]["scale"] - 1.0 / 127.0) < 1e-12
    # dequantization error bounded by one quantization step
    for vid, emb in rows:
        s, q = out[vid]["scale"], out[vid]["q"]
        for orig, qi in zip(emb, q):
            assert abs(orig - qi * s) <= s + 1e-12
    # zero vector: zeros with scale 0
    assert out[2]["q"] == [0, 0] and out[2]["scale"] == 0.0


def test_redact_pii_masks_and_counts(spark):
    from agensgraph_spark.pipeline.text import redact_pii
    rows = [
        (1, "mail me at a.b+c@corp.example.org or call +1 (415) 555-0101."),
        (2, "ssn 123-45-6789 stays protected"),
        (3, "nothing to hide here"),
    ]
    out = {r["doc_id"]: r for r in redact_pii(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "a.b+c@" not in out[1]["text_redacted"]
    assert "415" not in out[1]["text_redacted"]
    # the SSN pattern wins over the looser phone pattern
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 0
    assert "123-45-6789" not in out[2]["text_redacted"]
    assert out[3]["text_redacted"] == "nothing to hide here"


def test_vocab_topk_deterministic_order(spark):
    from agensgraph_spark.pipeline.text import vocab_topk
    rows = [(1, "b b a a c"), (2, "a b z")]
    got = [(r["token"], r["n"]) for r in vocab_topk(
        spark.createDataFrame(rows, ["doc_id", "text"]), k=3).collect()]
    assert got == [("a", 3), ("b", 3), ("c", 1)]


def test_degree_stats_includes_isolated(spark):
    from agensgraph_spark.operators.analytics import degree_stats
    e = spark.createDataFrame([("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("lone",)], ["id"])
    got = {r["id"]: (r["out_deg"], r["in_deg"])
           for r in degree_stats(e, v).collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2), "lone": (0, 0)}


def test_pagerank_hand_computed(spark):
    """2-node chain a->b, 1 iteration: pr(a) = 0.15 (no in-edges),
    pr(b) = 0.15 + 0.85 * (1.0 / 1) = 1.0 (seed rank 1.0)."""
    from agensgraph_spark.operators.analytics import pagerank
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    got = {r["id"]: r["pr"] for r in pagerank(e, v, iters=1).collect()}
    assert abs(got["a"] - (1.0 - 0.85)) < 1e-12
    assert abs(got["b"] - (1.0 - 0.85 + 0.85 * 1.0)) < 1e-12
    # second iteration: b's rank feeds nothing (dangling), a unchanged
    got2 = {r["id"]: r["pr"] for r in pagerank(e, v, iters=2).collect()}
    assert abs(got2["b"] - (1.0 - 0.85 + 0.85 * (1.0 - 0.85))) < 1e-12


def test_k_core_differential(spark):
    """k_core vs a pure-Python peel replay on a seeded random graph,
    plus hand cases: a triangle survives 2-core, a pendant chain does
    not; k=3 on a triangle is empty."""
    import random

    from agensgraph_spark.operators.analytics import k_core

    def py_k_core(pairs, k):
        adj = {}
        es = set()
        for a, b in pairs:
            if a == b:
                continue
            es.add((a, b)); es.add((b, a))
        for a, b in es:
            adj.setdefault(a, set()).add(b)
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for u in adj.pop(v):
                        adj[u].discard(v)
                    changed = True
        return {v: len(ns) for v, ns in adj.items() if ns}

    # triangle + pendant chain hanging off it
    tri = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    e = spark.createDataFrame(tri, ["src", "dst"])
    got = {r["id"]: r["degree"] for r in k_core(e, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    assert k_core(e, k=3).count() == 0

    rng = random.Random(11)
    pairs = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(120)]
    e2 = spark.createDataFrame(pairs, ["src", "dst"])
    for k in (2, 3, 4):
        got = {r["id"]: r["degree"] for r in k_core(e2, k=k).collect()}
        assert got == py_k_core(pairs, k), k


def test_k_core_one_count_job_per_round(spark, monkeypatch):
    """Perf contract (VERDICT r7 #3): one count action per peel round
    plus the single initial count — the previous round's n_after is
    carried as the next n_before, never recomputed. Counted at the
    DataFrame.count level (AQE job counts are stage-dependent noise)."""
    from agensgraph_spark.operators.analytics import k_core

    # 5-path, k=2: round 1 peels the endpoints, round 2 empties the
    # graph -> 2 peel rounds, so exactly 1 initial + 2 round counts
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])

    cls = type(e)  # the concrete (classic) DataFrame class
    calls = {"n": 0}
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    out = k_core(e, k=2)
    assert calls["n"] == 3
    monkeypatch.undo()
    assert out.count() == 0


def test_hits_hand_computed(spark):
    """Max-normalized HITS, 1 iteration on a->c, b->c, c->d:
    auth raw = {c: 2, d: 1}, max 2 -> {c: 1.0, d: 0.5};
    hub raw = {a: auth(c)=1, b: 1, c: auth(d)=0.5}, max 1 ->
    {a: 1, b: 1, c: 0.5, d: 0}."""
    from agensgraph_spark.operators.analytics import hits
    e = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "d")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    got = {r["id"]: (r["authority"], r["hub"])
           for r in hits(e, v, iters=1).collect()}
    exp = {"a": (0.0, 1.0), "b": (0.0, 1.0),
           "c": (1.0, 0.5), "d": (0.5, 0.0)}
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k][0] - exp[k][0]) < 1e-12, k
        assert abs(got[k][1] - exp[k][1]) < 1e-12, k


def test_hits_refuses_zero_iters(spark):
    """iters=0 has no defined authority vector — must refuse loudly."""
    import pytest as _pt

    from agensgraph_spark.operators.analytics import hits
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    with _pt.raises(ValueError):
        hits(e, v, iters=0)


def test_hits_and_harmonic_deep_iters_bounded_plan(spark):
    """Plan-growth guards: hits' per-round frame feeds four consumers
    (~5.5x un-truncated growth per round) and harmonic's frontier
    three (~3x per hop) — the per-round lazy localCheckpoint must keep
    deep runs' logical plans from exceeding a shallow run's by more
    than a constant factor."""
    from agensgraph_spark.operators.analytics import (harmonic_centrality,
                                                      hits)
    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])

    def plan_sz(df):
        return len(df._jdf.queryExecution().logical().toString())

    assert plan_sz(hits(e, v, iters=8)) < 3 * plan_sz(hits(e, v, iters=1))
    assert plan_sz(harmonic_centrality(e, v, max_hops=8)) \
        < 6 * plan_sz(harmonic_centrality(e, v, max_hops=1))


def test_hits_empty_graph_zero_scores(spark):
    """No edges: every score is the guarded 0.0, never a NULL or a
    divide-by-zero NaN (the CASE WHEN max > 0 guard)."""
    from agensgraph_spark.operators.analytics import hits
    e = spark.createDataFrame([], "src string, dst string")
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    got = {r["id"]: (r["authority"], r["hub"])
           for r in hits(e, v, iters=2).collect()}
    assert got == {"a": (0.0, 0.0), "b": (0.0, 0.0)}


def test_personalized_pagerank_hand_computed(spark):
    """Chain a->b->c, seed {a}, damping 0.85: restart mass only on a.
    iter1: a=0.15, b=0.85*p0(a)=0.85, c=0.0;
    iter2: a=0.15, b=0.85*0.15=0.1275, c=0.85*0.85=0.7225."""
    from agensgraph_spark.operators.analytics import personalized_pagerank
    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    s = spark.createDataFrame([("a",)], ["id"])
    g1 = {r["id"]: r["ppr"]
          for r in personalized_pagerank(e, v, s, iters=1).collect()}
    assert abs(g1["a"] - (1.0 - 0.85)) < 1e-12
    assert abs(g1["b"] - 0.85) < 1e-12
    assert g1["c"] == 0.0
    g2 = {r["id"]: r["ppr"]
          for r in personalized_pagerank(e, v, s, iters=2).collect()}
    assert abs(g2["a"] - (1.0 - 0.85)) < 1e-12
    assert abs(g2["b"] - 0.85 * (1.0 - 0.85)) < 1e-12
    assert abs(g2["c"] - 0.85 * 0.85) < 1e-12


def test_personalized_pagerank_mass_splits_across_seeds(spark):
    """Two seeds split the restart mass 1/|S| each."""
    from agensgraph_spark.operators.analytics import personalized_pagerank
    e = spark.createDataFrame([("a", "c"), ("b", "c")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    s = spark.createDataFrame([("a",), ("b",)], ["id"])
    got = {r["id"]: r["ppr"]
           for r in personalized_pagerank(e, v, s, iters=1).collect()}
    assert abs(got["a"] - (1.0 - 0.85) * 0.5) < 1e-12
    assert abs(got["b"] - (1.0 - 0.85) * 0.5) < 1e-12
    assert abs(got["c"] - 0.85 * (0.5 + 0.5)) < 1e-12


def test_personalized_pagerank_out_of_graph_seeds(spark):
    """Seeds absent from the vertex set are dropped BEFORE |S| is
    counted — an out-of-graph seed can never receive restart mass, so
    counting it would shrink total restart mass to |S∩V|/|S| (the
    round-12 ADVICE divergence). {a, zz} must equal {a} exactly; an
    all-out-of-graph seed set refuses loudly."""
    import pytest as _pt

    from agensgraph_spark.operators.analytics import personalized_pagerank
    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    mixed = spark.createDataFrame([("a",), ("zz",)], ["id"])
    clean = spark.createDataFrame([("a",)], ["id"])
    got = {r["id"]: r["ppr"]
           for r in personalized_pagerank(e, v, mixed, iters=2).collect()}
    want = {r["id"]: r["ppr"]
            for r in personalized_pagerank(e, v, clean, iters=2).collect()}
    assert got == want
    # the refusal rides in the plan (raise_error on the |S| aggregate,
    # no plan-time guard job) — it fires at first action
    with _pt.raises(Exception, match="no source id"):
        personalized_pagerank(
            e, v, spark.createDataFrame([("zz",)], ["id"]),
            iters=1).collect()


def test_random_walks_match_python_replay(spark):
    """The hash-seeded walk must pick exactly the neighbor a pure-
    Python hashlib replay picks, end early on a dangling vertex, and
    be bit-identical across runs."""
    import hashlib

    from agensgraph_spark.operators.analytics import random_walks

    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)

    def replay(start, steps, salt="w"):
        cur, path = start, start
        for s in range(steps):
            outs = adj.get(cur)
            if not outs:
                continue
            nxt = min(outs, key=lambda d: (
                hashlib.md5(f"{salt}:{start}:{s}:{d}".encode()).hexdigest(), d))
            cur, path = nxt, f"{path}->{nxt}"
        return cur, path

    e = spark.createDataFrame(pairs, ["src", "dst"])
    starts = spark.createDataFrame([("a",), ("e",)], ["id"])
    rows = random_walks(e, starts, steps=4).collect()
    got = {r["walk_id"]: (r["final"], r["path"]) for r in rows}
    assert got["a"] == replay("a", 4)
    # 'e' has no out-edges: the walk never moves
    assert got["e"] == ("e", "e")
    # the typed path column carries the SAME walk as the string, as a
    # real array (no downstream re-parsing of ids from text)
    for r in rows:
        assert r["path_ids"] == r["path"].split("->"), r
    got2 = {r["walk_id"]: (r["final"], r["path"])
            for r in random_walks(e, starts, steps=4).collect()}
    assert got2 == got
    # a different salt re-seeds the choices but keeps the contract
    salted = {r["walk_id"]: (r["final"], r["path"])
              for r in random_walks(e, starts, steps=4, salt="x").collect()}
    assert salted["a"] == replay("a", 4, salt="x")


def test_assign_sessions_hand_computed(spark):
    """Gap boundaries hand-traced: events at 0/10/50/55/120 minutes
    with a 30-min gap split into sessions {0,10}, {50,55}, {120};
    a second user is independent; gap_seconds<=0 refuses."""
    from datetime import datetime

    import pytest as _pt

    from agensgraph_spark.operators.temporal import assign_sessions

    def t(m):
        return datetime(2024, 1, 1, m // 60, m % 60)

    rows = [(1, t(0)), (1, t(10)), (1, t(50)), (1, t(55)), (1, t(120)),
            (2, t(5))]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(r["user_id"], r["ts"].minute + 60 * r["ts"].hour): r["session_seq"]
           for r in assign_sessions(df, gap_seconds=1800).collect()}
    assert got == {(1, 0): 1, (1, 10): 1, (1, 50): 2, (1, 55): 2,
                   (1, 120): 3, (2, 5): 1}
    with _pt.raises(ValueError):
        assign_sessions(df, gap_seconds=0)


def test_assign_sessions_exact_gap_boundary(spark):
    """A delta EXACTLY equal to the gap does NOT split (strict >),
    one second more does — pinning the boundary comparison."""
    from datetime import datetime

    from agensgraph_spark.operators.temporal import assign_sessions

    rows = [(1, datetime(2024, 1, 1, 0, 0, 0)),
            (1, datetime(2024, 1, 1, 0, 30, 0)),
            (1, datetime(2024, 1, 1, 1, 0, 1))]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    seqs = [r["session_seq"] for r in
            assign_sessions(df, gap_seconds=1800).orderBy("ts").collect()]
    assert seqs == [1, 1, 2]


def test_assign_sessions_bucketed_mode_identical(spark):
    """The skew-safe bucketed mode must assign EXACTLY the sessions the
    single-window mode assigns — for any bucket width, including a
    degenerate 1s bucket (every cross-bucket pair exercised) and a
    width that straddles session boundaries — on events fixtures with
    sub-second gaps; bucket_seconds<=0 refuses."""
    from datetime import datetime, timedelta

    import pytest as _pt

    from agensgraph_spark.operators.temporal import assign_sessions

    base = datetime(2024, 1, 1)
    rows = []
    # user 1: boundary-heavy — gaps alternating just under/over 1800s,
    # with microsecond offsets sitting on whole-second truncation edges
    t = base
    for i in range(12):
        rows.append((1, t))
        t += timedelta(seconds=1800, microseconds=500000 if i % 2 else 0)
    # user 2: a long quiet stretch spanning many buckets
    rows += [(2, base), (2, base + timedelta(days=3))]
    # null ts and null user: both modes must KEEP these rows and group
    # them identically (windows/groupBy treat null as its own group —
    # the bucketed join is null-safe for exactly this)
    rows += [(3, None), (3, base), (None, base)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    want = {(r["user_id"], r["ts"]): r["session_seq"]
            for r in assign_sessions(df, gap_seconds=1800).collect()}
    for bw in (1, 900, 3600, 86400):
        got = {(r["user_id"], r["ts"]): r["session_seq"]
               for r in assign_sessions(df, gap_seconds=1800,
                                        bucket_seconds=bw).collect()}
        assert got == want, bw
    with _pt.raises(ValueError):
        assign_sessions(df, gap_seconds=1800, bucket_seconds=0)


def test_assign_sessions_bucketed_multi_null_ts(spark):
    """>=2 NULL-ts rows per user: the default mode flags EVERY
    NULL-prev-VALUE row as a new session (prev.isNull() is true for a
    NULL ts value), so the bucketed mode must too — the round-13
    ADVICE repro was default [1,2,3] vs bucketed [1,1,2] on
    (None, None, ts). Compared as per-user session_seq multisets
    (NULL ts rows are unordered among themselves in both modes)."""
    from collections import Counter
    from datetime import datetime, timedelta

    from agensgraph_spark.operators.temporal import assign_sessions

    base = datetime(2024, 1, 1)
    rows = [(1, None), (1, None), (1, base),            # the ADVICE repro
            (2, None), (2, None), (2, None),            # all-NULL user
            (3, None), (3, base), (3, base + timedelta(hours=2)),
            (None, None), (None, None), (None, base)]   # NULL user too
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    def seqs(out):
        per_user: dict = {}
        for r in out.collect():
            per_user.setdefault(r["user_id"], Counter())[r["session_seq"]] += 1
        return per_user

    want = seqs(assign_sessions(df, gap_seconds=1800))
    assert want[1] == Counter({1: 1, 2: 1, 3: 1})       # pin the contract
    assert want[2] == Counter({1: 1, 2: 1, 3: 1})
    for bw in (1, 3600, 86400):
        got = seqs(assign_sessions(df, gap_seconds=1800, bucket_seconds=bw))
        assert got == want, bw


def test_assign_sessions_bucketed_matches_on_fixture(spark):
    """Cross-mode identity on the REAL events fixture (sf0.001): the
    bucketed mode must reproduce the single-window session_seq for
    every event, not just on crafted rows."""
    from agensgraph_spark.operators.temporal import assign_sessions

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", "ts"))
    a = assign_sessions(ev, gap_seconds=1800) \
        .select("user_id", "ts", "session_seq")
    b = assign_sessions(ev, gap_seconds=1800, bucket_seconds=86400) \
        .select("user_id", "ts", "session_seq")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_assign_sessions_subsecond_gap_precision(spark):
    """The gap compares at full timestamp precision: a 1800.5s delta
    whose WHOLE-SECOND truncation is exactly 1800 must still split at
    gap=1800 (unix_timestamp-based comparison would not — the latent
    divergence vs the ms-precision oracle and the streaming sibling
    flagged in round-12 ADVICE), and a 1799.5s delta whose components
    straddle a second boundary must NOT split."""
    from datetime import datetime

    from agensgraph_spark.operators.temporal import assign_sessions

    rows = [
        # splits: .000 -> +1800.5s (truncated delta == 1800, real > 1800)
        (1, datetime(2024, 1, 1, 0, 0, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 30, 0, 500000)),
        # does not split: .500 -> +1799.9s (truncated delta 1800 would
        # ALSO not split, but pin the real-value behavior anyway)
        (2, datetime(2024, 1, 1, 0, 0, 0, 500000)),
        (2, datetime(2024, 1, 1, 0, 30, 0, 400000)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(r["user_id"], r["ts"].microsecond): r["session_seq"]
           for r in assign_sessions(df, gap_seconds=1800).collect()}
    assert got == {(1, 0): 1, (1, 500000): 2,
                   (2, 500000): 1, (2, 400000): 1}


def test_dsir_weights_match_python_replay(spark):
    """dsir_weights vs a pure-Python replay of the hashed-bucket
    unigram+bigram models on a tiny bilingual corpus, including the
    empty doc (0 feats, NULL weight)."""
    import hashlib
    import math

    from agensgraph_spark.pipeline.text import dsir_weights

    rows = [(1, "the cat sat", "en"), (2, "the dog ran fast", "en"),
            (3, "le chat noir", "fr"), (4, "", "fr"),
            (5, "the the the", "fr")]

    def buckets(text):
        toks = text.strip().lower().split()
        feats = [t for t in toks if t] + [
            f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
        return [hashlib.md5(g.encode()).hexdigest()[:2] for g in feats]

    tc, rc, tt, rt = {}, {}, 0, 0
    for _id, text, lang in rows:
        for b in buckets(text):
            rc[b] = rc.get(b, 0) + 1
            rt += 1
            if lang == "en":
                tc[b] = tc.get(b, 0) + 1
                tt += 1

    def lw(text):
        bs = buckets(text)
        if not bs:
            return 0, None
        s = sum(math.log(((tc.get(b, 0) + 1.0) / (tt + 256.0))
                         / ((rc[b] + 1.0) / (rt + 256.0))) for b in bs)
        return len(bs), round(s, 6)

    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["doc_id"]: (r["n_feats"], r["log_w"])
           for r in dsir_weights(df, F.col("lang") == "en").collect()}
    for _id, text, _ in rows:
        n, w = lw(text)
        assert got[_id][0] == n, (_id, got[_id], n)
        if w is None:
            assert got[_id][1] is None
        else:
            assert abs(got[_id][1] - w) < 1e-9, (_id, got[_id], w)
    # English docs must score higher than the French ones on this
    # separable corpus — the property DSIR exists for
    assert got[1][1] > got[3][1] and got[2][1] > got[3][1]


def test_duplicate_spans_hand_computed(spark):
    """Two docs sharing a 10-token plagiarized run with n=3: each has
    8 duplicated gram positions in one run -> span 8+3-1 = 10 tokens.
    Intra-doc-only repetition does NOT flag (cross-doc scope); short
    docs report zeros."""
    from agensgraph_spark.pipeline.dedup import duplicate_spans

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon zeta"),
        # 'x y z' repeats within doc 3 only — min(doc)==max(doc)
        (3, "x y z x y z x y z"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["max_span_tokens"])
           for r in duplicate_spans(df, n=3).collect()}
    # doc1: 13 tokens -> 11 grams; grams fully inside the shared run:
    # positions 2..9 (8 of them) -> span 10
    assert got[1] == (11, 8, 10)
    # doc2: 13 tokens -> 11 grams; positions 0..7 duplicated -> span 10
    assert got[2] == (11, 8, 10)
    assert got[3] == (7, 0, 0)
    assert got[4] == (0, 0, 0)


def test_duplicate_spans_disjoint_runs_report_longest(spark):
    """Two separate duplicated runs in one doc: n_dup_grams sums both,
    max_span_tokens reports only the longer."""
    from agensgraph_spark.pipeline.dedup import duplicate_spans

    a = "p q r s t"          # 5 tokens -> 3 grams at n=3
    b = "u v w x y z zz"     # 7 tokens -> 5 grams
    rows = [
        (1, f"{a} GAP1 GAP2 GAP3 {b}"),
        (2, a),
        (3, b),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_dup_grams"], r["max_span_tokens"])
           for r in duplicate_spans(df, n=3).collect()}
    assert got[1] == (3 + 5, 7)
    assert got[2] == (3, 5)
    assert got[3] == (5, 7)


def test_fuzzy_decontaminate_hand_computed(spark):
    """A train doc near-identical to an eval doc is flagged with a
    high jaccard; unrelated train docs stay clean with NULL max and 0
    matches; the eval doc itself (present in train too, as in the
    registry row) self-hits at 1.0. Train-train near-dups must NOT
    flag (cross-parity filter)."""
    from agensgraph_spark.pipeline.dedup import fuzzy_decontaminate

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame([
        (1, eval_text),                              # exact leak
        (2, eval_text.replace("lazy", "sleepy")),    # paraphrase leak
        (3, "completely unrelated text about graph engines and parquet"),
        (4, "completely unrelated text about graph engines and parquet!"),
    ], ["doc_id", "text"])
    ev = spark.createDataFrame([(1, eval_text)], ["doc_id", "text"])
    got = {r["doc_id"]: (r["contaminated"], r["n_eval_matches"],
                         r["max_eval_jaccard"])
           for r in fuzzy_decontaminate(train, ev, threshold=0.4,
                                        min_est=0.3,
                                        hash_fn="md5").collect()}
    assert got[1][0] and got[1][2] == 1.0
    assert got[2][0] and 0.4 <= got[2][2] < 1.0
    # docs 3 and 4 are near-dups OF EACH OTHER (train-train) — the
    # cross-parity filter must keep them clean
    assert got[3] == (False, 0, None)
    assert got[4] == (False, 0, None)


def test_fuzzy_decontaminate_id_space_guard(spark):
    """The parity encoding halves the id space: 2^62-1 (the largest
    encodable id) works; 2^62 raises loudly instead of wrapping int64
    and silently colliding two documents."""
    import pytest as _pt

    from agensgraph_spark.pipeline.dedup import fuzzy_decontaminate

    txt = "the quick brown fox jumps over the lazy dog again and again"
    ok_id = (1 << 62) - 1
    train = spark.createDataFrame([(ok_id, txt)], ["doc_id", "text"])
    ev = spark.createDataFrame([(7, txt)], ["doc_id", "text"])
    rows = fuzzy_decontaminate(train, ev, threshold=0.4, min_est=0.3,
                               hash_fn="md5").collect()
    assert rows[0]["doc_id"] == ok_id and rows[0]["contaminated"]

    bad = spark.createDataFrame([(1 << 62, txt)], ["doc_id", "text"])
    with _pt.raises(Exception, match="outside"):
        fuzzy_decontaminate(bad, ev, threshold=0.4, min_est=0.3,
                            hash_fn="md5").collect()
    with _pt.raises(Exception, match="outside"):
        fuzzy_decontaminate(train, bad, threshold=0.4, min_est=0.3,
                            hash_fn="md5").collect()


def test_outlier_bounds_filter_hand_computed(spark):
    """Per-group exact-percentile bounds: values 1..10 in group A with
    lo=0.1/hi=0.9 keep 1.9..9.1 -> {2..9}; a second group is
    independent; no-group mode bounds over the whole frame; bad
    quantiles refuse; the bounds join must broadcast."""
    import pytest as _pt

    from agensgraph_spark.pipeline.text import outlier_bounds_filter

    rows = [("A", v) for v in range(1, 11)] + [("B", 100), ("B", 200)]
    df = spark.createDataFrame(rows, ["lang", "n"])
    out = outlier_bounds_filter(df, "n", by=("lang",), lo=0.1, hi=0.9)
    kept = {(r["lang"], r["n"]) for r in out.collect() if r["keep"]}
    # group B pins the tiny-group behavior: interpolated p10/p90 of
    # two values (110, 190) exclude BOTH endpoints — callers filter
    # strata below a size floor first (documented in the operator)
    assert kept == {("A", v) for v in range(2, 10)}
    # ungrouped: bounds over the whole frame
    allv = outlier_bounds_filter(df.select("n"), "n", lo=0.0, hi=1.0)
    assert all(r["keep"] for r in allv.collect())
    with _pt.raises(ValueError):
        outlier_bounds_filter(df, "n", lo=0.9, hi=0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_outlier_bounds_filter_approx_mode(spark):
    """approx=True (the unbounded-cardinality scale shape) must agree
    with exact mode within the sketch's rank-error tolerance on the
    real documents fixture: bounds within the value range spanned by
    +-(n * 1/accuracy) ranks of the exact bound, and the kept-row
    disagreement below 2x the theoretical rank error per side. Bad
    accuracy refuses."""
    import pytest as _pt

    from agensgraph_spark.pipeline.text import outlier_bounds_filter

    # high-cardinality values (the case approx mode exists for), two
    # 10k-row groups: at accuracy=10,000 the sketch's rank error is
    # <= 1 rank per bound, interpolation-vs-observed adds <= 1 more,
    # so per group at most ~2 rows per bound may flip
    docs = (spark.range(20_000)
            .selectExpr("id AS doc_id", "id % 2 AS grp",
                        "pmod(xxhash64(id), 1000000) / 7.0 AS n"))
    exact = outlier_bounds_filter(docs, "n", by=("grp",), lo=0.05, hi=0.95)
    approx = outlier_bounds_filter(docs, "n", by=("grp",), lo=0.05,
                                   hi=0.95, approx=True)
    ex = {r["doc_id"]: r["keep"] for r in exact.collect()}
    ap = {r["doc_id"]: r["keep"] for r in approx.collect()}
    assert set(ex) == set(ap)
    disagree = sum(1 for k in ex if ex[k] != ap[k])
    assert disagree <= 8, disagree  # 2 groups x 2 bounds x 2 ranks
    # the approximate bounds sit within 0.2% of the exact ones on a
    # ~uniform value column (rank error 1e-4 of 10k rows)
    exb = {r["grp"]: (r["lo_bound"], r["hi_bound"])
           for r in exact.select("grp", "lo_bound", "hi_bound")
           .distinct().collect()}
    apb = {r["grp"]: (r["lo_bound"], r["hi_bound"])
           for r in approx.select("grp", "lo_bound", "hi_bound")
           .distinct().collect()}
    for g in exb:
        for e, a in zip(exb[g], apb[g]):
            assert abs(e - a) <= 0.002 * 1_000_000 / 7.0, (g, e, a)
    with _pt.raises(ValueError):
        outlier_bounds_filter(docs, "n", approx=True, approx_accuracy=0)


def test_canonical_by_score_hand_computed(spark):
    """Keep the highest-scoring member per cluster, ties to the lowest
    id; singletons keep themselves; the plan's argmax is a hash
    aggregate, not a per-cluster sort window (skew safety)."""
    from agensgraph_spark.pipeline.dedup import canonical_by_score

    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 8), (9, 8)],
        ["id", "component"])
    sc = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 4), (9, 4)],
        ["id", "score"])
    out = canonical_by_score(cc, sc)
    got = {r["id"]: (r["keep"], r["best_id"]) for r in out.collect()}
    # cluster 1: 2 and 3 tie at 30 -> lowest id 2 wins
    assert got == {1: (False, 2), 2: (True, 2), 3: (False, 2),
                   7: (True, 7), 8: (True, 8), 9: (False, 8)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, plan
    assert "max(" in plan or "max_" in plan.lower(), plan


def test_canonical_by_score_unscored_members(spark):
    """The inner-join drop of unscored members is a DOCUMENTED
    contract: by default an id missing from scores vanishes from the
    output (pinned here so a silent semantic change fails CI);
    require_scored=True fails loudly on the first unscored member
    instead."""
    import pytest as _pt

    from agensgraph_spark.pipeline.dedup import canonical_by_score

    cc = spark.createDataFrame([(1, 1), (2, 1), (3, 1)],
                               ["id", "component"])
    sc = spark.createDataFrame([(1, 10), (2, 30)], ["id", "score"])
    got = {r["id"]: (r["keep"], r["best_id"])
           for r in canonical_by_score(cc, sc).collect()}
    # id 3 (unscored) is dropped and cannot be elected
    assert got == {1: (False, 2), 2: (True, 2)}
    with _pt.raises(Exception, match="has no score row"):
        canonical_by_score(cc, sc, require_scored=True).collect()
    # fully scored: require_scored is a no-op
    sc_full = spark.createDataFrame([(1, 10), (2, 30), (3, 5)],
                                    ["id", "score"])
    got2 = {r["id"]: r["keep"]
            for r in canonical_by_score(cc, sc_full,
                                        require_scored=True).collect()}
    assert got2 == {1: False, 2: True, 3: False}


def test_epoch_shuffle_is_deterministic_permutation(spark):
    """epoch_shuffle: (shard, pos) is a total address — every row gets
    exactly one, pos is 1..shard_size per shard, the assignment matches
    a pure-Python md5 replay, repartitioning doesn't change it, and a
    different seed gives a different permutation; n_shards<=0 refuses."""
    import hashlib

    import pytest as _pt

    from agensgraph_spark.pipeline.sampling import epoch_shuffle

    ids = list(range(100))
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])

    def replay(seed, n):
        shards = {}
        for i in ids:
            h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            shards.setdefault(int(h[:8], 16) % n, []).append((h, i))
        out = {}
        for s, rows in shards.items():
            for pos, (_, i) in enumerate(sorted(rows), start=1):
                out[i] = (s, pos)
        return out

    got = {r["doc_id"]: (r["shard"], r["pos"])
           for r in epoch_shuffle(df, "ep1", 8).collect()}
    assert got == replay("ep1", 8)
    # a permutation: addresses unique, per-shard positions contiguous
    assert len(set(got.values())) == len(ids)
    got_rep = {r["doc_id"]: (r["shard"], r["pos"])
               for r in epoch_shuffle(df.repartition(7), "ep1", 8).collect()}
    assert got_rep == got
    got2 = {r["doc_id"]: (r["shard"], r["pos"])
            for r in epoch_shuffle(df, "ep2", 8).collect()}
    assert got2 == replay("ep2", 8)
    assert got2 != got
    with _pt.raises(ValueError):
        epoch_shuffle(df, "ep1", 0)


def test_normalize_text_edge_cases(spark):
    """Control chars dropped, zero-width marks dropped, NBSP/em-space
    to ASCII space, whitespace runs collapsed, edges trimmed; clean
    text is unchanged (changed=False, 0 saved)."""
    from agensgraph_spark.pipeline.text import normalize_text

    rows = [
        (1, "  hello\t\tworld \n"),
        (2, "a\x00b\x07c"),
        (3, "zero​width﻿marks"),
        (4, "nb sp and em space　wide"),
        (5, "already clean"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["norm_text"], r["changed"], r["n_chars_saved"])
           for r in normalize_text(df).collect()}
    assert got[1] == ("hello world", True, 5)
    assert got[2] == ("abc", True, 2)
    assert got[3] == ("zerowidthmarks", True, 2)
    assert got[4] == ("nb sp and em space wide", True, 0)
    assert got[5] == ("already clean", False, 0)
    assert got[6] == ("", False, 0)


def test_cap_per_group_deterministic_and_bounded(spark, monkeypatch):
    """cap_per_group keeps exactly min(k, group size) rows per group
    with the exact full-group ranks, the SAME rows across re-runs,
    partitionings, AND salt bucket counts (the salt routes rows to
    tasks, it never enters the order), matching a pure-Python md5
    replay; k<=0 refuses."""
    import hashlib

    import pytest as _pt

    from agensgraph_spark.pipeline import sampling
    from agensgraph_spark.pipeline.sampling import cap_per_group

    rows = [(i, f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])

    def replay(k):
        groups = {}
        for i, g in rows:
            groups.setdefault(g, []).append(i)
        keep = set()
        for g, ids in groups.items():
            ranked = sorted(ids, key=lambda i: (
                hashlib.md5(f"{g}:{i}".encode()).hexdigest(), i))
            keep.update((g, i, rank + 1)
                        for rank, i in enumerate(ranked[:k]))
        return keep

    def got(frame, k):
        return {(r["source"], r["doc_id"], r["group_rank"])
                for r in cap_per_group(frame, "source", k).collect()}

    for k in (1, 4, 100):
        assert got(df, k) == replay(k), k
    # neither repartitioning nor the salt bucket count may change the
    # picked set or the ranks — the two-phase form must be output-
    # equivalent to the single-window form (one salt bucket)
    for buckets in (sampling._SKEW_BUCKETS, 1, 3, 257):
        monkeypatch.setattr(sampling, "_SKEW_BUCKETS", buckets)
        assert got(df.repartition(7), 4) == replay(4), buckets
    with _pt.raises(ValueError):
        cap_per_group(df, "source", 0)


def test_harmonic_centrality_sampled_hand_computed(spark):
    """Path graph a-b-c-d, seeds {a, c}, max_hops=2, |V|/|S| = 2:
    a sees c@2 -> 0.5*2 = 1.0; b sees a@1 + c@1 -> 2.0*2 = 4.0;
    c sees a@2 -> 1.0; d sees c@1 (a is 3 hops, beyond radius) -> 2.0.
    Out-of-graph seeds are dropped before |S|; an all-out-of-graph
    seed set refuses loudly."""
    import pytest as _pt

    from agensgraph_spark.operators.analytics import (
        harmonic_centrality_sampled,
    )
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    seeds = spark.createDataFrame([("a",), ("c",)], ["id"])
    got = {r["id"]: (r["n_sampled"], r["harmonic_est"])
           for r in harmonic_centrality_sampled(e, v, seeds,
                                                max_hops=2).collect()}
    assert got == {"a": (1, 1.0), "b": (2, 4.0),
                   "c": (1, 1.0), "d": (1, 2.0)}
    # dropping an out-of-graph seed keeps |S| (and the estimate) intact
    noisy = spark.createDataFrame([("a",), ("c",), ("zz",)], ["id"])
    got2 = {r["id"]: (r["n_sampled"], r["harmonic_est"])
            for r in harmonic_centrality_sampled(e, v, noisy,
                                                 max_hops=2).collect()}
    assert got2 == got
    # in-plan refusal (no plan-time guard job): fires at first action
    with _pt.raises(Exception, match="no source id"):
        harmonic_centrality_sampled(
            e, v, spark.createDataFrame([("zz",)], ["id"]),
            max_hops=2).collect()


def test_harmonic_centrality_hand_computed(spark):
    """Path graph a-b-c-d with max_hops=2, undirected:
    a reaches b@1, c@2 -> 1 + 0.5 = 1.5, n=2;
    b reaches a@1, c@1, d@2 -> 2.5, n=3; isolated vertex scores 0.
    max_hops=1 truncates to immediate neighbors only."""
    from agensgraph_spark.operators.analytics import harmonic_centrality
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    v = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("iso",)], ["id"])
    got = {r["id"]: (r["n_reached"], r["harmonic"])
           for r in harmonic_centrality(e, v, max_hops=2).collect()}
    assert got["a"] == (2, 1.5)
    assert got["b"] == (3, 2.5)
    assert got["c"] == (3, 2.5)
    assert got["d"] == (2, 1.5)
    assert got["iso"] == (0, 0.0)
    got1 = {r["id"]: (r["n_reached"], r["harmonic"])
            for r in harmonic_centrality(e, v, max_hops=1).collect()}
    assert got1["a"] == (1, 1.0)
    assert got1["b"] == (2, 2.0)


def test_label_propagation_hand_computed(spark):
    """Deterministic synchronous LPA on a 3-chain + isolate: modal
    neighbor label with count-DESC/label-ASC ties, isolated vertices
    keep their own label; 3 rounds hand-traced."""
    from agensgraph_spark.operators.analytics import label_propagation
    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    got = {r["id"]: r["community"]
           for r in label_propagation(e, v, iters=3).collect()}
    # r1: {1:2, 2:1, 3:2, 4:4}; r2: {1:1, 2:2, 3:1, 4:4};
    # r3: {1:2, 2:1, 3:2, 4:4} (sync-LPA 2-cycle on a chain)
    assert got == {1: 2, 2: 1, 3: 2, 4: 4}


def test_pagerank_deep_iters_bounded_plan(spark, monkeypatch):
    """User-supplied iteration counts must not grow the plan without
    bound: the every-6-rounds truncation keeps the logical plan of
    iters=20 no deeper than a few un-truncated rounds' worth, and the
    values still converge to the 2-cycle fixed point pr=1.0. The
    oracle-replayed iters=3 truncates only its two shared subtrees
    (vertex universe, degree-annotated edges), never the rank frame."""
    from agensgraph_spark.operators.analytics import pagerank
    e = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    v = spark.createDataFrame([("a",), ("b",)], ["id"])
    cuts = []
    frame = type(e)
    checkpoint = frame.localCheckpoint

    def recording(self, eager=True):
        cuts.append(eager)
        return checkpoint(self, eager)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    pagerank(e, v, iters=3)
    assert cuts == [False, False]
    monkeypatch.undo()
    deep = pagerank(e, v, iters=20)
    # lineage truncated at rounds 6/12/18 → the final plan holds at most
    # 2 un-truncated rounds; an un-truncated 5-round plan is larger
    deep_sz = len(deep._jdf.queryExecution().logical().toString())
    five_sz = len(pagerank(e, v, iters=5)._jdf.queryExecution()
                  .logical().toString())
    assert deep_sz < five_sz
    got = {r["id"]: r["pr"] for r in deep.collect()}
    assert abs(got["a"] - 1.0) < 1e-9 and abs(got["b"] - 1.0) < 1e-9


def test_asof_join_tolerance_and_ties(spark):
    from agensgraph_spark.operators.temporal import asof_join
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u", t(10)), (2, "u", t(3)), (3, "v", t(10))],
        ["lid", "user", "ts"])
    right = spark.createDataFrame(
        [("u", t(5), 50.0), ("u", t(10), 100.0), ("w", t(1), 1.0)],
        ["user", "ts", "value"])
    got = {r["lid"]: r["matched"] for r in
           asof_join(left, right, on="ts", by=("user",)).collect()}
    assert got[1]["value"] == 100.0     # equal timestamps match (inclusive)
    assert got[2] is None               # nothing at or before t=3
    assert got[3] is None               # no rows for user v
    # tolerance: the t=5 match is 5s old relative to a t=10 left row
    got2 = {r["lid"]: r["matched"] for r in
            asof_join(left.filter("lid = 1"), right.filter("value = 50.0"),
                      on="ts", by=("user",), tolerance_sec=3).collect()}
    assert got2[1] is None


def test_range_join_bin_boundaries(spark):
    """Ranges spanning multiple bins and points at inclusive endpoints
    must behave identically to the plain inequality join."""
    from agensgraph_spark.operators.temporal import range_join
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    off = lambda s: base + dt.timedelta(seconds=s)
    right = spark.createDataFrame(
        [("k", 100, off(10), off(7200 * 2 + 50))],   # spans 3 bins at bin=7200
        ["k", "rid", "start", "end"])
    pts = [("k", i, off(s)) for i, s in enumerate([9, 10, 7200, 14450, 14451])]
    left = spark.createDataFrame(pts, ["k", "pid", "p"])
    got = sorted(r["pid"] for r in range_join(
        left, right, point="p", start="start", end="end",
        by=("k",), bin_sec=7200.0).collect())
    # 9 is before start, 14451 after end; 10 and 14450 are inclusive edges
    assert got == [1, 2, 3]
    # each qualifying pair appears exactly once despite multi-bin ranges
    assert len(got) == len(set(got))


def test_pack_sequences_invariants(spark):
    """Bins fill to the budget: every non-final bin of a (by, shard)
    group spans exactly `budget` tokens of stream, offsets stay within
    [0, budget), and the layout is partitioning-independent."""
    from agensgraph_spark.pipeline.text import pack_sequences
    rows = [(i, "s", " ".join(["w"] * (7 + i % 5))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = pack_sequences(df, budget=20, by=("source",), shards=2).collect()
    assert all(0 <= r["bin_offset"] < 20 for r in out)
    # stream order reconstruction: within a shard, cumulative offsets
    # advance by n_tokens across bin boundaries
    for sh in (0, 1):
        seq = sorted((r for r in out if r["shard"] == sh),
                     key=lambda r: r["doc_id"])
        pos = 0
        for r in seq:
            assert r["bin_id"] * 20 + r["bin_offset"] == pos
            pos += r["n_tokens"]
    out2 = pack_sequences(df.repartition(13), budget=20,
                          by=("source",), shards=2).collect()
    key = lambda r: (r["doc_id"],)
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_new_operators_empty_inputs(spark):
    """Empty frames must flow through, not crash — the shapes a driver
    hits on filtered-out partitions."""
    from agensgraph_spark.operators.temporal import asof_join, range_join
    from agensgraph_spark.pipeline.dedup import connected_components
    from agensgraph_spark.pipeline.text import pack_sequences
    import datetime as dt

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_pairs).count() == 0
    nodes = spark.createDataFrame([(7,)], ["id"])
    got = connected_components(empty_pairs, nodes=nodes).collect()
    assert [(r["id"], r["component"]) for r in got] == [(7, 7)]

    left = spark.createDataFrame(
        [(1, "u", dt.datetime(2024, 1, 1))], ["lid", "user", "ts"])
    empty_right = spark.createDataFrame([], "user string, ts timestamp, value double")
    j = asof_join(left, empty_right, on="ts", by=("user",)).collect()
    assert len(j) == 1 and j[0]["matched"] is None

    empty_ranges = spark.createDataFrame(
        [], "k string, rid long, start timestamp, end timestamp")
    pts = spark.createDataFrame([("k", 1, dt.datetime(2024, 1, 1))], ["k", "pid", "p"])
    assert range_join(pts, empty_ranges, point="p", start="start",
                      end="end", by=("k",)).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, source string, text string")
    assert pack_sequences(empty_docs).count() == 0


def test_asof_join_forward(spark):
    from agensgraph_spark.operators.temporal import asof_join
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([(1, "u", t(10)), (2, "u", t(40))],
                                 ["lid", "user", "ts"])
    right = spark.createDataFrame(
        [("u", t(5), 5.0), ("u", t(12), 12.0), ("u", t(30), 30.0)],
        ["user", "ts", "value"])
    got = {r["lid"]: r["matched"] for r in
           asof_join(left, right, on="ts", by=("user",),
                     direction="forward").collect()}
    assert got[1]["value"] == 12.0      # earliest at-or-after t=10
    assert got[2] is None               # nothing at or after t=40
    # tolerance applies to the forward gap
    got2 = {r["lid"]: r["matched"] for r in
            asof_join(left, right, on="ts", by=("user",),
                      direction="forward", tolerance_sec=1).collect()}
    assert got2[1] is None


def test_triangle_counts_known_graph(spark):
    from agensgraph_spark.operators.analytics import triangle_counts
    # K4 on {1,2,3,4} (4 triangles, each vertex in 3) + pendant 5 + edge dup
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (2, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # undirected invariance
    got2 = {r["id"]: r["n_triangles"] for r in triangle_counts(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).collect()}
    assert got2 == got


def test_neighbor_mean_embeddings_hand_computed(spark):
    from agensgraph_spark.pipeline.similarity import neighbor_mean_embeddings
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 6.0]), (3, [0.0, 0.0])],
        ["vec_id", "embedding"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    got = {r["vec_id"]: r["embedding"]
           for r in neighbor_mean_embeddings(pairs, emb).collect()}
    assert got[1] == [2.0, 3.0]      # mean of self + neighbor 2
    assert got[2] == [2.0, 3.0]
    assert got[3] == [0.0, 0.0]      # unpaired keeps its own
    got2 = {r["vec_id"]: r["embedding"] for r in neighbor_mean_embeddings(
        pairs, emb, include_self=False).collect()}
    assert got2 == {1: [3.0, 6.0], 2: [1.0, 0.0]}   # vertex 3 drops out


def test_neighbor_mean_two_rounds(spark):
    """Round 2 = propagate(propagate(x)): verify against a hand-run of
    the one-round operator applied twice."""
    from agensgraph_spark.pipeline.similarity import neighbor_mean_embeddings
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 6.0]), (3, [0.0, 2.0])],
        ["vec_id", "embedding"])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    once = neighbor_mean_embeddings(pairs, emb)
    manual = {r["vec_id"]: r["embedding"]
              for r in neighbor_mean_embeddings(pairs, once).collect()}
    direct = {r["vec_id"]: r["embedding"]
              for r in neighbor_mean_embeddings(pairs, emb, rounds=2).collect()}
    for k in manual:
        assert all(abs(a - b) < 1e-12 for a, b in zip(manual[k], direct[k]))


def test_ivf_with_trained_centroids(spark):
    """kmeans_update -> ivf_cosine_topk composition: trained centroids
    flow back into the index and recall stays sane (top-1 of a corpus
    vector queried against itself-excluded corpus is its true nearest
    under full probing)."""
    from agensgraph_spark.pipeline.similarity import (
        brute_cosine_topk, ivf_cosine_topk, kmeans_update)
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter("vec_id < 120"))
    seeded = [[1.0 if i == j else 0.0 for i in range(64)] for j in range(4)]
    trained = kmeans_update(emb, seeded).collect()
    cents = [r["centroid"] for r in sorted(trained, key=lambda r: r["list_id"])]
    q = emb.filter("vec_id < 10")
    ivf = ivf_cosine_topk(emb, q, k=1, n_probe=len(cents), cents=cents)
    brute = brute_cosine_topk(emb, q, k=1)
    got = {r["query_id"]: r["neighbor_id"] for r in ivf.collect()}
    exp = {r["query_id"]: r["neighbor_id"] for r in brute.collect()}
    assert got == exp  # full probing == exact, regardless of centroids


def _numpy_brute_topk(ids, V, q_idx, k):
    """float64 reference: (query, neighbor, cos, rank) by (cos DESC,
    id ASC), self-pairs excluded."""
    import numpy as np
    n = np.linalg.norm(V, axis=1)
    out = []
    for i in q_idx:
        s = (V @ V[i]) / (n * n[i])
        cand = [j for j in range(len(ids)) if ids[j] != ids[i]]
        cand.sort(key=lambda j: (-s[j], ids[j]))
        out += [(ids[i], ids[j], s[j], r + 1)
                for r, j in enumerate(cand[:k])]
    return sorted(out)


def test_brute_topk_matches_numpy_reference(spark, monkeypatch):
    """brute_cosine_topk against a float64 numpy brute force: ids and
    ranks exact, cos_sim within 1e-6 (the output is rounded to 6
    places). A 7-query block over 25 queries must select exactly what
    one block does, building the frame must launch exactly one Spark
    job (the query fetch), and a zero-norm query refuses at build
    time."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F
    from agensgraph_spark.pipeline import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 25)
    rows = sorted(emb.select("vec_id", "embedding").collect())
    ids = [r[0] for r in rows]
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    q_idx = [i for i, v in enumerate(ids) if v < 25]

    def check(got, want):
        assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want]
        assert all(abs(g[2] - w[2]) <= 1e-6 for g, w in zip(got, want))

    one_block = sorted(map(tuple, S.brute_cosine_topk(emb, q).collect()))
    check(one_block, _numpy_brute_topk(ids, V, q_idx, 5))
    with monkeypatch.context() as m:
        m.setattr(S, "_QUERY_BLOCK", 7)
        blocked = sorted(map(tuple, S.brute_cosine_topk(emb, q).collect()))
    check(blocked, one_block)
    # job-group count (the tests/test_ddl.py probe pattern)
    sc = spark.sparkContext
    sc.setJobGroup("brute-topk-build", "job probe")
    try:
        S.brute_cosine_topk(emb, q, k=5)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("brute-topk-build")) == 1
    zq = spark.createDataFrame(
        [(9999, [0.0] * 64)], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="zero-norm query"):
        S.brute_cosine_topk(emb, zq, k=1)


def test_brute_topk_null_corpus_id_and_empty_queries(spark):
    """A NULL corpus id or a zero-norm corpus vector refuses loudly
    instead of surfacing as a NULL neighbour or a NaN rank; an empty
    query set returns an empty frame with the schema of a non-empty
    call."""
    import pytest as _pytest
    from agensgraph_spark.pipeline.similarity import brute_cosine_topk
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (None, [0.0, 1.0])], schema)
    q = spark.createDataFrame([(7, [1.0, 1.0])], schema)
    with _pytest.raises(Exception, match="NULL corpus id"):
        brute_cosine_topk(corpus, q, k=1).collect()
    zero = spark.createDataFrame([(2, [0.0, 0.0])], schema)
    with _pytest.raises(Exception, match="zero-norm corpus"):
        brute_cosine_topk(zero, q, k=1).collect()
    good = corpus.filter("vec_id IS NOT NULL")
    empty = brute_cosine_topk(good, q.limit(0), k=1)
    assert empty.collect() == []
    assert empty.schema == brute_cosine_topk(good, q, k=1).schema


def test_train_ivf_reduces_quantization_error(spark):
    """Lloyd rounds must not increase total assignment distortion
    (cosine distance to the assigned centroid)."""
    import numpy as np
    from agensgraph_spark.pipeline.similarity import train_ivf_centroids
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter("vec_id < 200"))
    rows = np.array([r["embedding"] for r in emb.collect()], dtype=float)
    rows /= np.linalg.norm(rows, axis=1, keepdims=True)

    def distortion(cents):
        C = np.array(cents, dtype=float)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        sims = rows @ C.T
        return float((1.0 - sims.max(axis=1)).sum())

    c0 = train_ivf_centroids(emb, n_lists=8, rounds=0, dim=64)
    c3 = train_ivf_centroids(emb, n_lists=8, rounds=3, dim=64)
    assert distortion(c3) <= distortion(c0) + 1e-9
    assert len(c3) == 8 and len(c3[0]) == 64


def test_line_dedup_semantics(spark):
    from agensgraph_spark.pipeline.text import line_dedup
    rows = [
        (1, "copyright foo\nunique one\nunique two"),
        (2, "copyright foo\ndifferent body"),
        (3, "copyright foo"),                  # fully boilerplate
        (4, "  copyright foo  \nkept line"),   # trimmed match
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"])
           for r in line_dedup(df, min_docs=3).collect()}
    # 'copyright foo' appears (trimmed) in 4 >= 3 docs -> removed
    assert got[1] == (3, 2, "unique one\nunique two")
    assert got[2] == (2, 1, "different body")
    assert got[3] == (1, 0, "")   # row survives with empty text
    assert got[4] == (2, 1, "kept line")


def test_line_dedup_preserves_order(spark):
    from agensgraph_spark.pipeline.text import line_dedup
    text = "\n".join(f"line {i}" for i in range(20))
    df = spark.createDataFrame([(1, text), (2, "nothing shared")],
                               ["doc_id", "text"])
    got = {r["doc_id"]: r["text_clean"]
           for r in line_dedup(df, min_docs=2).collect()}
    assert got[1] == text  # nothing removed, original order intact


def test_line_dedup_literal_separator(spark):
    """The separator is a LITERAL, not a regex: sep='.' must split on
    periods (and rejoin with them), not on every character."""
    from agensgraph_spark.pipeline.text import line_dedup
    rows = [(1, "shared clause.unique a"), (2, "shared clause.unique b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_lines"], r["text_clean"])
           for r in line_dedup(df, sep=".", min_docs=2).collect()}
    assert got == {1: (2, "unique a"), 2: (2, "unique b")}


def test_lm_perplexity_semantics(spark):
    """Bigram-LM scoring replayed driver-side in pure Python: counts,
    add-k smoothing, per-doc mean NLL, short-doc NULL rows."""
    import math
    from collections import Counter

    from agensgraph_spark.pipeline.text import lm_perplexity
    rows = [(1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "dog"),           # 1 token -> no bigrams
            (4, "  "),            # blank -> no tokens
            (5, "the cat sat")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["perplexity"])
           for r in lm_perplexity(df).collect()}

    docs = {i: t.strip().lower().split() for i, t in rows}
    bigs = {i: list(zip(a, a[1:])) for i, a in docs.items() if len(a) >= 2}
    c2 = Counter(b for bs in bigs.values() for b in bs)
    c1 = Counter(b[0] for bs in bigs.values() for b in bs)
    V = len({w for a in docs.values() for w in a})
    for i, bs in bigs.items():
        nll = [-math.log((c2[b] + 0.5) / (c1[b[0]] + 0.5 * V)) for b in bs]
        avg = sum(nll) / len(nll)
        assert got[i][0] == len(bs)
        assert got[i][1] == pytest.approx(round(avg, 6), abs=1e-9)
        assert got[i][2] == pytest.approx(round(math.exp(avg), 4), abs=1e-9)
    assert got[3] == (0, None, None) and got[4] == (0, None, None)


def test_semantic_dedup_keep_rule(spark):
    """With explicit centroids the cluster tag is deterministic; the
    keep rule drops exactly the higher-id member of a same-cluster
    near-identical pair and keeps singleton clusters."""
    from agensgraph_spark.pipeline.similarity import semantic_dedup
    rows = [
        (1, [1.0, 0.0]), (2, [0.999, 0.01]),   # same cluster, near-dup
        (3, [0.0, 1.0]),                        # other cluster, alone
        (4, [-1.0, 0.05]),                      # cluster 0? no: dot with c0 negative
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in semantic_dedup(df, tau=0.9,
                                   cents=[[1.0, 0.0], [0.0, 1.0]]).collect()}
    assert out[1] == (0, True)      # lowest id of its cluster
    assert out[2] == (0, False)     # near-dup of 1 -> dropped
    assert out[3] == (1, True)
    # vec 4 points away from c0: argmax dot picks c1; alone there? no —
    # shares cluster 1 with vec 3 but cosine is ~0 -> kept
    assert out[4][1] is True


def test_semdedup_skew_stats_flags_hot_cluster(spark):
    """All vectors pointing the same way land in ONE cluster: the
    audit must report it over the cap, with sum_sq_sizes exposing the
    quadratic pair-join cost the uncapped op would pay."""
    from agensgraph_spark.pipeline.similarity import semdedup_skew_stats
    rows = [(i, [1.0, float(i) * 1e-4]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = semdedup_skew_stats(df, cents=[[1.0, 0.0], [0.0, 1.0]],
                              max_cluster=10).collect()[0]
    assert got["n_clusters"] == 1
    assert got["n_over_cap"] == 1
    assert got["max_cluster_size"] == 40
    assert got["sum_sq_sizes"] == 1600


def _value_error_message(exc: BaseException) -> str:
    """The message of a ValueError raised on the driver, or in a Python
    worker (Spark surfaces that as an exception carrying the worker's
    traceback, whose last ``ValueError:`` line is the message)."""
    if isinstance(exc, ValueError):
        return str(exc)
    found = re.findall(r"ValueError: (.*)", str(exc))
    assert found, str(exc)
    return found[-1]


def test_degenerate_vectors_refuse_on_every_vector_path(spark):
    """One NULL, ragged or zero-norm embedding among valid ones raises
    ValueError naming the public operator called, on every path that
    tags or scores vectors — never a silent tag, a NULL neighbour or
    Spark's DIVIDE_BY_ZERO. kmeans_update also refuses a zero-norm
    centroid (its cosine assignment is undefined) on the driver."""
    from agensgraph_spark.pipeline import similarity as S
    cents = [[1.0, 0.0], [0.0, 1.0]]
    books = [[[1.0], [0.0]], [[0.0], [1.0]]]  # m=2 subspaces of d=1
    cases = [
        ("ivf_cosine_topk",
         lambda df: S.ivf_cosine_topk(df, df, k=1, cents=cents)),
        ("ivf_pq_topk",
         lambda df: S.ivf_pq_topk(df, df, books, k=1, cents=cents)),
        ("kmeans_update", lambda df: S.kmeans_update(df, cents)),
        ("semantic_dedup", lambda df: S.semantic_dedup(df, cents=cents)),
        ("semantic_dedup",
         lambda df: S.semantic_dedup(df, cents=cents, max_cluster=2)),
        ("semdedup_skew_stats",
         lambda df: S.semdedup_skew_stats(df, cents=cents)),
        ("brute_cosine_topk", lambda df: S.brute_cosine_topk(df, df, k=1)),
    ]
    bad = {"zero-norm": [0.0, 0.0], "NULL": None, "ragged": [1.0, 2.0, 3.0]}
    for kind, vec in bad.items():
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, vec), (4, [1.0, 1.0])],
            "vec_id long, embedding array<double>")
        for op, run in cases:
            with pytest.raises(Exception) as err:
                run(df).collect()
            msg = _value_error_message(err.value)
            assert msg.startswith(f"{op}: ") and kind in msg, (op, kind, msg)
    ok = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="kmeans_update: zero-norm centroid"):
        S.kmeans_update(ok, [[1.0, 0.0], [0.0, 0.0]])


def test_centroid_ties_agree_across_callers(spark):
    """Exact ties (centroids e0, e1; vectors on the diagonal) go to the
    HIGHER list on every caller of the shared tagger: the
    semdedup_skew_stats cluster, semantic_dedup's cluster in both
    modes, kmeans_update's list_id and the ivf_cosine_topk /
    ivf_pq_topk corpus list and query probe. A multi-list probe visits
    tied lists in index-DESC order and is clamped to the list count."""
    import numpy as np

    from agensgraph_spark.pipeline import similarity as S
    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = "vec_id long, embedding array<double>"
    # ids 1-3 tie; id 4 is unambiguously list 1, so a diagonal tagged
    # to list 0 would show as a second cluster or a missing neighbour
    corpus = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in (1, 2, 3)] + [(4, [0.0, 1.0])],
        schema)
    skew = S.semdedup_skew_stats(corpus, cents=cents).collect()[0]
    assert (skew["n_clusters"], skew["max_cluster_size"]) == (1, 4)
    for cap in (None, 2):
        got = {r["vec_id"]: r["cluster"] for r in S.semantic_dedup(
            corpus, cents=cents, max_cluster=cap).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}, (cap, got)
    km = [(r["list_id"], r["n_assigned"])
          for r in S.kmeans_update(corpus, cents).collect()]
    assert km == [(1, 4)]
    q = spark.createDataFrame([(10, [5.0, 5.0])], schema)
    books = [[[1.0], [0.0]], [[0.0], [1.0]]]
    for topk in (S.ivf_cosine_topk(corpus, q, k=10, n_probe=1, cents=cents),
                 S.ivf_pq_topk(corpus, q, books, k=10, n_probe=1,
                               cents=cents)):
        assert sorted(r["neighbor_id"] for r in topk.collect()) == [1, 2, 3, 4]
    one = q.select(F.col("vec_id"),
                   F.col("embedding").alias("_v")).coalesce(1)
    for n_probe in (2, 5):
        probes = S._centroid_tag_arrow(one, np.asarray(cents), "_v", "_n",
                                       n_probe, "probe").collect()
        assert [r["_list"] for r in probes] == [1, 0], n_probe


def test_semantic_dedup_cap_bounds_hot_cluster(spark):
    """With max_cluster=3 every row compares only against the 3
    lowest-id cluster-mates: head rows keep exact semantics, overflow
    rows get max cosine over the head (a lower bound), and the join is
    size x cap, not size²."""
    from agensgraph_spark.pipeline.similarity import semantic_dedup
    rows = [(i, [1.0, float(i)]) for i in range(8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [[1.0, 0.0], [-1.0, 0.0]]

    def run(**kw):
        return {r["vec_id"]: r["max_lower_cos"]
                for r in semantic_dedup(df, tau=2.0, cents=cents, **kw).collect()}

    import math

    def cos(i, j):
        a, b = (1.0, float(i)), (1.0, float(j))
        d = a[0] * b[0] + a[1] * b[1]
        return round(d / (math.hypot(*a) * math.hypot(*b)), 6)

    exact = run(max_cluster=None)
    capped = run(max_cluster=3)
    for i in range(8):
        want_full = max((cos(i, j) for j in range(i)), default=None)
        want_head = max((cos(i, j) for j in range(min(i, 3))), default=None)
        assert exact[i] == want_full
        assert capped[i] == want_head
    # overflow rows (id >= 3) are lower-bounded, never raised
    assert all(capped[i] <= exact[i] for i in range(4, 8))
    # the per-row audit flag marks exactly the rows whose
    # max_lower_cos is a lower bound: rank > cap+1 (a rank cap+1 row
    # still sees all its lower-id mates in the head)
    flags = {r["vec_id"]: r["capped"]
             for r in semantic_dedup(df, tau=2.0, cents=cents,
                                     max_cluster=3).collect()}
    assert flags == {i: (i > 3) for i in range(8)}
    uncapped_flags = {r["vec_id"]: r["capped"]
                      for r in semantic_dedup(df, tau=2.0, cents=cents,
                                              max_cluster=None).collect()}
    assert set(uncapped_flags.values()) == {False}


def test_semdedup_oracle_corpora_never_hit_cap(spark):
    """The DuckDB gate/tail oracles do NOT model the max_cluster cap
    (their `capped` column is a constant FALSE) — legal only while no
    oracle-replayed corpus has a cluster beyond the cap. Pin that for
    both oracle scale dirs under the TRAINED quantizer the workload row
    uses, so the unmodeled cap can never bite parity silently."""
    from agensgraph_spark import workload as W
    from agensgraph_spark.pipeline.similarity import semdedup_skew_stats
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        W._q_dedup_semantic(spark, sf_dir)  # trains + caches the cents
        cents = W._SEMDEDUP_CENTS[(sf_dir, W._emb_mtime(sf_dir))]
        got = semdedup_skew_stats(emb, cents=cents).collect()[0]
        assert got["n_over_cap"] == 0, (sf_dir, got)
        assert got["max_cluster_size"] <= 10_000, (sf_dir, got)


def test_lsh_signature_refuses_oversized_plane_count(spark):
    """pow-based bit packing is exact only to 2^52; a 53+-plane matrix
    must refuse loudly instead of emitting silently wrong signatures."""
    import pytest as _pytest

    from agensgraph_spark.pipeline.similarity import (_hyperplanes,
                                                      lsh_signature)
    with _pytest.raises(ValueError, match="52-plane"):
        lsh_signature(F.col("v"), _hyperplanes(4, 53))
    # 52 is the boundary and stays accepted
    lsh_signature(F.col("v"), _hyperplanes(4, 52))


def test_semantic_dedup_trained_vs_seeded_quantizer(spark):
    """Trained (1 Lloyd round, unit-normalized) centroids on the real
    embeddings table: the quantizer path semantic_dedup's workload row
    uses. The trained tag must (a) produce a valid partition of the
    corpus, (b) not be MORE skewed than the seeded default on the
    quadratic cost metric, and (c) leave per-cluster keep semantics
    intact (lowest id of every cluster survives)."""
    from agensgraph_spark.pipeline.similarity import (
        semantic_dedup, semdedup_skew_stats, train_ivf_centroids,
        unit_normalized)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = unit_normalized(train_ivf_centroids(emb, n_lists=16, rounds=1,
                                                dim=64))
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    seeded = semdedup_skew_stats(emb, dim=64).collect()[0]
    trained = semdedup_skew_stats(emb, cents=cents).collect()[0]
    assert trained["sum_sq_sizes"] <= seeded["sum_sq_sizes"] * 1.25
    out = semantic_dedup(emb, tau=0.2, cents=cents).toPandas()
    assert len(out) == emb.count()
    firsts = out.sort_values("vec_id").groupby("cluster").first()
    assert bool(firsts["keep"].all())  # lowest id per cluster survives


def test_scc_hand_graph(spark, monkeypatch):
    """Two 3-cycles joined by a bridge, a dangling chain, a self-loop,
    and an isolated vertex (via the nodes frame): component = min
    member id of the SCC, trivial SCCs are singletons."""
    from agensgraph_spark.operators.analytics import (
        strongly_connected_components)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4),
         (7, 8), (8, 9), (10, 10)],
        "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 12)], "id long")
    want = [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4),
            (7, 7), (8, 8), (9, 9), (10, 10), (11, 11)]
    # both regimes: driver Tarjan fast path (default gate) and the
    # distributed FW-BW-Trim loop, forced by a zero edge cap
    for cap in (D._DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", cap)
        rows = sorted((r.id, r.component) for r in
                      strongly_connected_components(edges, verts).collect())
        assert rows == want, f"_DRIVER_MAX_EDGES={cap}"


def test_scc_dag_all_singletons(spark, monkeypatch):
    """A pure DAG dissolves entirely in the trim loop (every vertex is
    its own SCC) — no propagation round ever runs."""
    from agensgraph_spark.operators.analytics import (
        strongly_connected_components)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4)], "src long, dst long")
    # a zero edge cap forces the distributed loop — this test is
    # ABOUT the trim phase, which the driver fast path never runs
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    rows = sorted((r.id, r.component) for r in
                  strongly_connected_components(edges).collect())
    assert rows == [(1, 1), (2, 2), (3, 3), (4, 4)]


def test_scc_adversarial_condensation_chain(spark, monkeypatch):
    """Cycles chained so the downstream SCC holds the smaller ids —
    the min-pivot worst case: rounds must still settle every SCC and
    label each by its own minimum, not by an upstream reacher."""
    from agensgraph_spark.operators.analytics import (
        strongly_connected_components)
    # C3(30,31) -> C2(20,21) -> C1(10,11): f(C1) spans all reachers
    pairs = []
    for base in (10, 20, 30):
        pairs += [(base, base + 1), (base + 1, base)]
    pairs += [(30, 20), (20, 10)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    # force the distributed loop — the min-pivot worst case is a
    # property of the settle rounds, not of the driver fast path
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    rows = sorted((r.id, r.component) for r in
                  strongly_connected_components(edges).collect())
    assert rows == [(10, 10), (11, 10), (20, 20), (21, 20),
                    (30, 30), (31, 30)]


def test_scc_differential_vs_tarjan(spark, monkeypatch):
    """Deterministic pseudo-random digraph vs an in-test iterative
    Tarjan — pins the full labeling, not a summary."""
    from agensgraph_spark.operators.analytics import (
        strongly_connected_components)
    import random
    rng = random.Random(42)
    n = 60
    edges = sorted({(rng.randrange(n), rng.randrange(n))
                    for _ in range(150)})
    adj = {v: [] for v in range(n)}
    for s, d in edges:
        adj[s].append(d)
    # iterative Tarjan
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]

    def strong(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    scc = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        scc.append(w)
                        if w == v:
                            break
                    m = min(scc)
                    for w in scc:
                        comp[w] = m
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])

    for v in range(n):
        if v not in index:
            strong(v)
    e_df = spark.createDataFrame(edges, "src long, dst long")
    v_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
    # pin BOTH regimes against the in-test Tarjan: the driver fast
    # path (default gate) and the forced distributed FW-BW-Trim loop
    for cap in (D._DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", cap)
        got = sorted((r.id, r.component) for r in
                     strongly_connected_components(e_df, v_df).collect())
        assert got == sorted(comp.items()), f"_DRIVER_MAX_EDGES={cap}"


def test_scc_empty_graph(spark):
    from agensgraph_spark.operators.analytics import (
        strongly_connected_components)
    e0 = spark.createDataFrame([], "src long, dst long")
    assert strongly_connected_components(e0).count() == 0


def test_bm25_hand_computed(spark):
    """Three tiny docs, one query — scores replayed with the exact
    formula in Python (idf, length normalization, top-k tie-break)."""
    import math
    from agensgraph_spark.pipeline.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(100, "apple banana")],
                               "query_id long, query_text string")
    out = {(r.query_id, r.doc_id): (r.score, r.rank)
           for r in bm25_topk(docs, qs, k=3).collect()}
    n, avgdl = 3.0, (3 + 2 + 1) / 3.0
    k1, b = 1.2, 0.75

    def idf(df_):
        return math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))

    def term(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = round(idf(1) * term(2, 3) + idf(2) * term(1, 3), 6)  # doc 1
    exp2 = round(idf(2) * term(1, 2), 6)                        # doc 2
    assert out[(100, 1)] == (exp1, 1)
    assert out[(100, 2)] == (exp2, 2)
    assert (100, 3) not in out  # durian shares no term: never scored


def test_bm25_query_term_multiplicity_ignored(spark):
    """'apple apple' scores identically to 'apple' — distinct query
    terms, the documented simplification."""
    from agensgraph_spark.pipeline.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(1, "apple pie"), (2, "apple apple tart")],
        "doc_id long, text string")
    q1 = spark.createDataFrame([(7, "apple")],
                               "query_id long, query_text string")
    q2 = spark.createDataFrame([(7, "apple apple")],
                               "query_id long, query_text string")
    r1 = sorted((r.doc_id, r.score) for r in bm25_topk(docs, q1).collect())
    r2 = sorted((r.doc_id, r.score) for r in bm25_topk(docs, q2).collect())
    assert r1 == r2 and len(r1) == 2


def test_rrf_fuse_hand_computed(spark):
    """Doc on both lists beats single-list docs; rank sums replayed."""
    from agensgraph_spark.pipeline.retrieval import rrf_fuse
    a = spark.createDataFrame([(1, 10, 1), (1, 11, 2)],
                              "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([(1, 11, 1), (1, 12, 2)],
                              "query_id long, doc_id long, rank long")
    out = {r.doc_id: (r.rrf_score, r.rank)
           for r in rrf_fuse([a, b], k=3).collect()}
    assert out[11] == (round(1 / 62 + 1 / 61, 6), 1)
    assert out[10] == (round(1 / 61, 6), 2)
    assert out[12] == (round(1 / 62, 6), 3)


def test_bm25_empty_query_and_no_match(spark):
    from agensgraph_spark.pipeline.retrieval import bm25_topk
    docs = spark.createDataFrame([(1, "apple")], "doc_id long, text string")
    qs = spark.createDataFrame([(1, ""), (2, "zzz")],
                               "query_id long, query_text string")
    assert bm25_topk(docs, qs).count() == 0


def test_chunk_documents_coverage_and_overlap(spark):
    """10-token doc, chunk 4, overlap 1 (stride 3): windows start at
    1,4,7 — the last window reaches the final token, every token is
    covered, consecutive chunks share exactly `overlap` tokens."""
    from agensgraph_spark.pipeline.text import chunk_documents
    text = "a b c d e f g h i j"
    docs = spark.createDataFrame([(1, text), (2, ""), (3, "solo")],
                                 "doc_id long, text string")
    rows = sorted((r.doc_id, r.chunk_id, r.start_token, r.n_tokens,
                   r.chunk_text)
                  for r in chunk_documents(docs, chunk_tokens=4,
                                           overlap=1).collect())
    assert rows == [
        (1, 0, 1, 4, "a b c d"),
        (1, 1, 4, 4, "d e f g"),
        (1, 2, 7, 4, "g h i j"),
        (3, 0, 1, 1, "solo"),
    ]  # doc 2 (empty) emits nothing


def test_chunk_documents_exact_fit_no_overlap_tail(spark):
    """n == chunk_tokens yields exactly one chunk; n one past the
    boundary yields two with the short tail."""
    from agensgraph_spark.pipeline.text import chunk_documents
    docs = spark.createDataFrame([(1, "a b c"), (2, "a b c d")],
                                 "doc_id long, text string")
    got = sorted((r.doc_id, r.chunk_id, r.chunk_text)
                 for r in chunk_documents(docs, chunk_tokens=3,
                                          overlap=0).collect())
    assert got == [(1, 0, "a b c"), (2, 0, "a b c"), (2, 1, "d")]


def test_chunk_documents_rejects_bad_params(spark):
    from agensgraph_spark.pipeline.text import chunk_documents
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_betweenness_sampled_path_graph(spark):
    """Path 1-2-3-4-5 with all vertices as seeds: the directed-pair
    sum is exactly twice classic undirected betweenness — [0,6,8,6,0]
    with the n/|S|=1 scale factor."""
    from agensgraph_spark.operators.analytics import (
        betweenness_centrality_sampled)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)],
                                  "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    out = {r.id: round(r.bc_est, 6)
           for r in betweenness_centrality_sampled(
               edges, verts, verts, max_hops=4).collect()}
    assert out == {1: 0.0, 2: 6.0, 3: 8.0, 4: 6.0, 5: 0.0}


def test_betweenness_sampled_even_split(spark):
    """4-cycle: opposite corners connect via TWO shortest paths, so
    each intermediate carries sigma-ratio 1/2 per direction — every
    vertex ends at exactly 1.0 (pins the sigma arithmetic, not just
    path existence)."""
    from agensgraph_spark.operators.analytics import (
        betweenness_centrality_sampled)
    edges = spark.createDataFrame([(1, 2), (2, 4), (4, 3), (3, 1)],
                                  "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    out = {r.id: round(r.bc_est, 6)
           for r in betweenness_centrality_sampled(
               edges, verts, verts, max_hops=3).collect()}
    assert out == {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0}


def test_betweenness_sampled_subset_seeds_scale_up(spark):
    """Star center with 4 leaves, seeds = 2 leaves: raw dependency
    from each sampled leaf is 3 (paths to the other three leaves run
    through the center), scaled by |V|/|S| = 5/2."""
    from agensgraph_spark.operators.analytics import (
        betweenness_centrality_sampled)
    edges = spark.createDataFrame([(10, i) for i in (1, 2, 3, 4)],
                                  "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10)],
                                  "id long")
    seeds = spark.createDataFrame([(1,), (2,)], "id long")
    out = {r.id: round(r.bc_est, 6)
           for r in betweenness_centrality_sampled(
               edges, verts, seeds, max_hops=2).collect()}
    assert out[10] == round(2 * 3 * 5 / 2, 6)  # 15.0
    assert all(out[i] == 0.0 for i in (1, 2, 3, 4))


def test_betweenness_sampled_empty_seed_refusal(spark):
    from agensgraph_spark.operators.analytics import (
        betweenness_centrality_sampled)
    import pytest as _pytest
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], "id long")
    seeds = spark.createDataFrame([(99,)], "id long")
    df = betweenness_centrality_sampled(edges, verts, seeds, max_hops=2)
    with _pytest.raises(Exception, match="no source id"):
        df.collect()


def test_k_truss_peels_pendant_triangle(spark):
    """K4 plus a pendant triangle hung off one K4 edge: at k=4 the
    pendant's two edges (support 1) peel in round one, the shared edge
    drops from support 3 to 2 and survives — the surviving graph is
    exactly K4 with every support recounted in the SUBGRAPH."""
    from agensgraph_spark.operators.analytics import k_truss
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(k4 + [(3, 5), (4, 5)],
                                  "src long, dst long")
    out = sorted((r.src, r.dst, r.support)
                 for r in k_truss(edges, k=4).collect())
    assert out == [(a, b, 2) for (a, b) in k4]


def test_k_truss_k2_keeps_triangle_free_edges(spark):
    """k=2 requires support >= 0: every edge survives, including ones
    in no triangle (the coalesce-to-zero path)."""
    from agensgraph_spark.operators.analytics import k_truss
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 9)],
                                  "src long, dst long")
    out = sorted((r.src, r.dst, r.support)
                 for r in k_truss(edges, k=2).collect())
    assert out == [(1, 2, 1), (1, 3, 1), (2, 3, 1), (3, 9, 0)]


def test_k_truss_star_empties(spark):
    from agensgraph_spark.operators.analytics import k_truss
    edges = spark.createDataFrame([(10, i) for i in range(1, 6)],
                                  "src long, dst long")
    assert k_truss(edges, k=3).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        k_truss(edges, k=1)


def _py_truss(rows, k):
    """Python k-truss peel: (a, b, support) with a < b."""
    cur = {(min(a, b), max(a, b)) for a, b in rows if a != b}
    while True:
        nbr = {}
        for a, b in cur:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        sup = {(a, b): len(nbr[a] & nbr[b]) for a, b in cur}
        keep = {e for e in cur if sup[e] >= k - 2}
        if keep == cur or not keep:
            return sorted((a, b, sup[(a, b)]) for a, b in keep)
        cur = keep


def _k_truss_both_regimes(spark, monkeypatch, rows, k):
    """k_truss under full re-enumeration (_INCREMENTAL_PEEL=0) and
    under incremental recompute on every peel (=1.1) must both equal
    the Python peel — edge set AND final supports."""
    from agensgraph_spark.operators import analytics
    edges = spark.createDataFrame(rows, "src long, dst long")
    want = _py_truss(rows, k)
    for peel in (0.0, 1.1):
        monkeypatch.setattr(analytics, "_INCREMENTAL_PEEL", peel)
        got = sorted((r.src, r.dst, r.support)
                     for r in analytics.k_truss(edges, k=k).collect())
        assert got == want, (peel, k, rows)


def test_k_truss_incremental_matches_full(spark, monkeypatch):
    """K5 sharing an edge with K4, plus a pendant triangle: at k=4 the
    peel cascades (4 edges, then 1), so the incremental regime runs
    twice."""
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    k4 = [(a + 10, b + 10) for a, b in
          [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]]
    rows = k5 + k4 + [(4, 10), (3, 11), (4, 11), (0, 20), (1, 20)]
    _k_truss_both_regimes(spark, monkeypatch, rows, 4)


def test_k_truss_incremental_matches_full_random(spark, monkeypatch):
    """Random sparse graphs peel a few edges per round; at k=4 the
    first one cascades over three peels (37, 15, then 5 edges)."""
    import random
    rng = random.Random(20260818)
    for n, m in [(24, 70), (30, 90), (18, 45)]:
        rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        for k in (3, 4):
            _k_truss_both_regimes(spark, monkeypatch, rows, k)


def test_temperature_mix_python_replay(spark):
    """120/30 two-stratum corpus at alpha=0: targets are uniform, so
    the big stratum keeps rate 30/120 = 0.25 and the small one 1.0 —
    the surviving ROW SET (not just counts) must equal a pure-Python
    hashlib replay of the md5-prefix rule."""
    import hashlib
    from agensgraph_spark.pipeline.sampling import temperature_mix
    rows = [(i, "big" if i < 120 else "small") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = temperature_mix(df, "stratum", "doc_id", alpha=0.0)
    got = sorted((r.doc_id, round(r.mix_rate, 9)) for r in out.collect())
    thr = format(int(0.25 * 65536), "04x")
    exp = sorted(
        [(i, 0.25) for i in range(120)
         if hashlib.md5(str(i).encode()).hexdigest()[:4] < thr]
        + [(i, 1.0) for i in range(120, 150)])
    assert got == exp


def test_temperature_mix_alpha_one_keeps_everything(spark):
    from agensgraph_spark.pipeline.sampling import temperature_mix
    rows = [(i, "a" if i % 3 else "b") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = temperature_mix(df, "stratum", "doc_id", alpha=1.0)
    assert out.count() == 90
    assert out.filter(F.col("mix_rate") != 1.0).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        temperature_mix(df, "stratum", "doc_id", alpha=1.5)
