"""Differential testing for the hash-based dedup operators: the full
MinHash-LSH candidate pipeline and SimHash are replayed in pure Python
(including an independent XXH64 implementation, tests/_xxh64.py) and
compared EXACTLY against the Spark implementations — the same oracle
strategy the path operators get in test_differential.py. Both string
hash modes are covered: 'xxh64' (JVM fast path, not replayable
elsewhere — this suite is its correctness gate) and 'md5' (the
portable 60-bit md5-prefix mode the driver's DuckDB gate replays,
workload._minhash_md5_oracle)."""

import hashlib
import random
import re
from collections import defaultdict

import numpy as np
import pytest

from _xxh64 import xxh64_signed, xxh64_slot_signed
from test_iteration_state import n_cached
from agensgraph_spark.pipeline import dedup as D

_P = (1 << 31) - 1
_U64 = (1 << 64) - 1


def md5_signed(s: str) -> int:
    """Pure-Python replay of the dedup 'md5' hash mode: first 15
    hex chars of md5 parsed base-16 — a 60-bit non-negative long."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


PY_HASH = {"xxh64": xxh64_signed, "md5": md5_signed}
HASH_FNS = ("xxh64", "md5")


# --- pure-Python mirrors (independent reimplementation, incl. the
# coefficient LCG — nothing imported from agensgraph_spark.pipeline) ---

def mh_params(num_hashes: int):
    params = []
    x = 0x9E3779B9
    for _ in range(num_hashes):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        a = x % (_P - 1) + 1
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        b = x % _P
        params.append((a, b))
    return params


def py_shingles(text: str, k: int = 5):
    t = text.lower()
    m = max(len(t) - k + 1, 1)
    seen, out = set(), []
    for i in range(m):
        s = t[i:i + k]
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def py_signature(text: str, params, k: int = 5, hash_fn: str = "xxh64"):
    h0 = PY_HASH[hash_fn]
    if hash_fn == "xxh64":
        # strong per-slot hash: slot_i = min over shingles of
        # xxhash64(base_hash, i) — mirrors dedup._minhash_slots
        hs = [h0(s) for s in py_shingles(text, k)]
        return [min(xxh64_slot_signed(h, i) for h in hs)
                for i in range(len(params))]
    hs = [h0(s) % _P for s in py_shingles(text, k)]
    return [min((h * a + b) % _P for h in hs) for a, b in params]


def py_band_hashes(sig, bands: int = 8, hash_fn: str = "xxh64"):
    # xxh64 mode folds the joined band slice to a long; md5-portable
    # mode keys buckets on the RAW joined slice (bucket identity is all
    # that matters — the engine folds each band's slot bytes instead,
    # dedup._bucket_keys)
    rows = len(sig) // bands
    fold = xxh64_signed if hash_fn == "xxh64" else (lambda s: s)
    return [fold(",".join(str(sig[b * rows + r]) for r in range(rows)))
            for b in range(bands)]


def py_lsh_candidates(docs, num_hashes=32, bands=8, k=5, min_est=0.0,
                      max_bucket=10_000, hash_fn="xxh64"):
    params = mh_params(num_hashes)
    sigs = {did: py_signature(t, params, k, hash_fn) for did, t in docs}
    buckets = defaultdict(list)
    for did, _ in docs:
        for b, bh in enumerate(py_band_hashes(sigs[did], bands, hash_fn)):
            buckets[(b, bh)].append(did)
    est: dict[tuple[int, int], float] = {}
    for members in buckets.values():
        if not (2 <= len(members) <= max_bucket):
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b_ in ms[i + 1:]:
                m = sum(1 for x, y in zip(sigs[a], sigs[b_]) if x == y)
                e = m / num_hashes
                est[(a, b_)] = max(est.get((a, b_), 0.0), e)
    return {p: e for p, e in est.items() if e >= min_est}


def py_exact_jaccard(docs, pairs, k=5, threshold=0.5, hash_fn="xxh64"):
    h0 = PY_HASH[hash_fn]
    hset = {did: {h0(s) for s in py_shingles(t, k)} for did, t in docs}
    out = {}
    for a, b in pairs:
        inter = len(hset[a] & hset[b])
        uni = len(hset[a] | hset[b])
        j = inter / uni
        if j >= threshold:
            out[(a, b)] = j
    return out


def py_simhash(text: str, bits: int = 32, hash_fn: str = "xxh64") -> int:
    h0 = PY_HASH[hash_fn]
    toks = re.split(r"\s+", text.strip().lower())
    hs = [h0(t) & _U64 for t in toks]
    n = len(hs)
    sim = 0
    for j in range(bits):
        if 2 * sum((h >> j) & 1 for h in hs) > n:
            sim |= 1 << j
    return sim


def py_simhash_pairs(docs, max_hamming=3, bands=4, bits=32, hash_fn="xxh64"):
    sims = {did: py_simhash(t, bits, hash_fn) for did, t in docs}
    width = bits // bands
    buckets = defaultdict(list)
    for did, _ in docs:
        for b in range(bands):
            buckets[(b, (sims[did] >> (b * width)) & ((1 << width) - 1))].append(did)
    pairs = set()
    for members in buckets.values():
        ms = sorted(set(members))
        for i, a in enumerate(ms):
            for b_ in ms[i + 1:]:
                ham = bin(sims[a] ^ sims[b_]).count("1")
                if ham <= max_hamming:
                    pairs.add((a, b_, ham))
    return pairs


# --- synthetic near-duplicate corpus (seeded) ---

_VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
          "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
          "red green blue amber violet copper silver golden "
          "river mountain valley forest desert harbor island meadow").split()


def make_corpus(n_base=18, variants=3, seed=7):
    rng = random.Random(seed)
    docs, did = [], 0
    for _ in range(n_base):
        base = [rng.choice(_VOCAB) for _ in range(40)]
        docs.append((did, " ".join(base)))
        did += 1
        for _ in range(variants):
            words = list(base)
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            docs.append((did, " ".join(words)))
            did += 1
    return docs


def _docs_df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_signatures_match_python(spark, hash_fn):
    docs = make_corpus(n_base=6, variants=2)
    got = {r["_id"]: [r[f"h{i}"] for i in range(32)]
           for r in D.minhash_signatures(_docs_df(spark, docs),
                                         hash_fn=hash_fn).collect()}
    params = mh_params(32)
    exp = {did: py_signature(t, params, hash_fn=hash_fn) for did, t in docs}
    assert got == exp


# Edge cases of the shingle/signature kernel: empty text, text shorter
# than k, σ/ς and İ (lowercasing grows the text by a code point), and
# mixed 1-4 byte UTF-8 characters; the 4-byte emoji at k=10 give
# 40-byte shingles, which exercise XXH64's 32-byte stripe loop.
_EDGE_TEXTS = [
    "",
    "abc",
    "ΟΔΟΣ σς ΣΟΦΟΣ",
    "İSTANBUL İzmir",
    "😀🎉🥳😀🎉🥳😀🎉🥳😀🎉 party",
    "é中😀a" * 4,
    "mixed ascii text that is comfortably longer than any shingle",
]


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_kernel_edge_cases_match_python(spark, hash_fn,
                                                monkeypatch):
    """The Arrow kernel's shingle-hash sets (``_sh``) and signatures
    (``_sig``) equal the independent Python mirror (py_shingles,
    py_signature, tests/_xxh64.py) on the edge texts at k=5 and k=10.
    The templated corpus runs again with Arrow batches of 3 rows, so
    documents sharing shingles land in different batches — the
    per-batch shingle memo must not leak codes across batches — and
    with 300-shingle chunks, which cut every batch into several
    memos."""
    edge = list(enumerate(_EDGE_TEXTS))
    corpus = [(100 + i, t) for i, t in make_corpus(n_base=4, variants=2)]
    h0 = PY_HASH[hash_fn]
    params = mh_params(32)

    def check(docs, k):
        rows = D._minhash_frame(_docs_df(spark, docs), "text", "doc_id", k,
                                hash_fn, num_hashes=32).collect()
        got = {r["_id"]: (sorted(r["_sh"]), list(r["_sig"])) for r in rows}
        exp = {did: (sorted(h0(s) for s in py_shingles(t, k)),
                     py_signature(t, params, k, hash_fn))
               for did, t in docs}
        assert got == exp

    check(edge, 5)
    check(edge, 10)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        check(corpus, 5)
    finally:
        spark.conf.set(conf, old)
    monkeypatch.setattr(D, "_CHUNK_SHINGLES", 300)
    check(corpus, 5)


def test_minhash_refuses_null_text_and_id(spark):
    """A NULL text or doc id fails loudly instead of pairing two
    NULL-text documents as exact duplicates or silently dropping a
    NULL-id document from every pair — in the signature builder, the
    fused near-dup pipeline (both hash modes) and the exact verify. An
    unknown hash_fn still raises on the driver at call time. The eager
    calls release the frame they pin when they fail: the CacheManager
    holds no more entries after the refusals than before."""
    schema = "doc_id long, text string"
    null_text = spark.createDataFrame(
        [(1, None), (2, None), (3, "some ordinary text")], schema)
    null_id = spark.createDataFrame(
        [(1, "some ordinary text"), (None, "some ordinary text")], schema)
    cached = n_cached(spark)
    with pytest.raises(Exception, match="minhash: NULL text"):
        D.minhash_signatures(null_text).collect()
    with pytest.raises(Exception, match="minhash: NULL doc id"):
        D.minhash_signatures(null_id).collect()
    for hf in HASH_FNS:
        with pytest.raises(Exception, match="minhash: NULL text"):
            D.minhash_neardup_pairs(null_text, hash_fn=hf)
        with pytest.raises(Exception, match="minhash: NULL text"):
            D.minhash_lsh_candidates(null_text, hash_fn=hf)
    with pytest.raises(Exception, match="minhash: NULL doc id"):
        D.minhash_neardup_pairs(null_id)
    with pytest.raises(Exception, match="minhash: NULL doc id"):
        D.minhash_lsh_candidates(null_id)
    assert n_cached(spark) == cached
    cands = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    with pytest.raises(Exception, match="minhash: NULL text"):
        D.ngram_jaccard_pairs(cands, null_text).collect()
    with pytest.raises(ValueError, match="unknown hash_fn"):
        D.ngram_jaccard_pairs(cands, null_text, hash_fn="sha1")


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_lsh_pipeline_matches_python(spark, hash_fn):
    """The exact gated-query pipeline (workload._q_minhash_lsh):
    banding candidates (min_est=0.3) -> exact shingle-Jaccard >= 0.4.
    Both the surviving pair set and the (IEEE-identical) jaccard values
    must match the pure-Python replay exactly — in both hash modes."""
    docs = make_corpus()
    df = _docs_df(spark, docs)
    cands = D.minhash_lsh_candidates(df, min_est=0.3,
                                     hash_fn=hash_fn).select("id_a", "id_b")
    out = D.ngram_jaccard_pairs(cands, df, threshold=0.4, hash_fn=hash_fn)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}

    py_cands = py_lsh_candidates(docs, min_est=0.3, hash_fn=hash_fn)
    exp = py_exact_jaccard(docs, py_cands.keys(), threshold=0.4,
                           hash_fn=hash_fn)
    assert got == exp
    assert len(got) >= 10  # the corpus must actually exercise the pipeline


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_candidate_estimates_match_python(spark, hash_fn):
    docs = make_corpus(n_base=8, variants=2)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in D.minhash_lsh_candidates(_docs_df(spark, docs),
                                             hash_fn=hash_fn).collect()}
    exp = py_lsh_candidates(docs, hash_fn=hash_fn)
    assert got == exp


def test_minhash_md5_and_xxh64_verified_pairs_agree(spark):
    """The two hash modes are interchangeable for the fused near-dup
    pipeline. LSH recall is hash-family-dependent on BORDERLINE pairs
    (8 bands x 4 rows: a jaccard-0.75 pair is caught w.p. ~0.95 per
    family — empirically, this seeded corpus has ~7 such pairs caught
    by one family and missed by the other), so exact set equality is
    NOT the contract. What must hold:
    - pairs surfaced by both modes carry bit-identical jaccard values
      (exact shingle-set Jaccard is hash-independent),
    - neither mode misses a high-similarity pair the other found
      (banding recall at jaccard>=0.9 is 1 - (1-j^4)^8 > 0.9999), and
    - the overlap dominates (>=90% of the union)."""
    docs = make_corpus()
    df = _docs_df(spark, docs)
    outs = {}
    for hf in HASH_FNS:
        out = D.minhash_neardup_pairs(df, min_est=0.3, threshold=0.4,
                                      hash_fn=hf)
        outs[hf] = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    md5, xx = outs["md5"], outs["xxh64"]
    common = set(md5) & set(xx)
    assert len(common) >= 10
    assert all(md5[p] == xx[p] for p in common)
    only = (set(md5) ^ set(xx))
    assert all((md5 | xx)[p] < 0.9 for p in only), only
    assert len(common) >= 0.9 * len(set(md5) | set(xx))


def _lsh_buckets(docs, hash_fn, max_bucket):
    """The Python mirror's band buckets: the pairs of every dropped
    (over ``max_bucket``) bucket, and per pair the bands of the kept
    buckets holding it."""
    params = mh_params(32)
    buckets = defaultdict(list)
    for did, t in docs:
        sig = py_signature(t, params, hash_fn=hash_fn)
        for b, bh in enumerate(py_band_hashes(sig, hash_fn=hash_fn)):
            buckets[(b, bh)].append(did)
    dropped, kept = [], defaultdict(set)
    for (b, _), members in buckets.items():
        ms = sorted(members)
        pairs = [(x, y) for i, x in enumerate(ms) for y in ms[i + 1:]]
        if len(ms) > max_bucket:
            dropped.append((b, pairs))
        else:
            for p in pairs:
                kept[p].add(b)
    return dropped, kept


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_cap_keeps_pairs_of_later_kept_bands(spark, hash_fn):
    """Near-duplicate clusters of four under ``max_bucket=2``: some
    band buckets are dropped. A pair of a dropped bucket that also
    shares a LATER kept bucket must still come out (it is owned by
    that later band); a pair that shares only dropped buckets must
    not. Both entry points equal the Python mirror, with integer ids
    and with string ids, whose ``id_a < id_b`` is Spark's string
    order ('d10' < 'd9', and 'é' after every ASCII letter)."""
    docs = make_corpus(n_base=4, variants=3, seed=1)
    dropped, kept = _lsh_buckets(docs, hash_fn, max_bucket=2)
    rescued = {p for b, ps in dropped for p in ps
               if any(k > b for k in kept.get(p, ()))}
    lost = {p for _, ps in dropped for p in ps if p not in kept}
    assert rescued and lost  # the corpus exercises both cases
    name = {did: f"{'é' if did % 5 == 0 else 'd'}{did}" for did, _ in docs}
    for ids in ("long", "string"):
        rows = docs if ids == "long" else [(name[d], t) for d, t in docs]
        df = spark.createDataFrame(rows, f"doc_id {ids}, text string")
        cands = D.minhash_lsh_candidates(df, max_bucket=2, hash_fn=hash_fn)
        got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
               for r in cands.collect()}
        exp = py_lsh_candidates(rows, max_bucket=2, hash_fn=hash_fn)
        assert got == exp
        assert all(a < b for a, b in got)
        pairs = D.minhash_neardup_pairs(df, max_bucket=2, threshold=0.0,
                                        hash_fn=hash_fn)
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in pairs.collect()}
        assert got == py_exact_jaccard(rows, exp, threshold=0.0,
                                       hash_fn=hash_fn)
        if ids == "long":
            assert rescued <= set(got) and not lost & set(got)


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_minhash_bucket_runs_straddle_arrow_batches(spark, hash_fn,
                                                   monkeypatch):
    """With Arrow batches of 2 rows, bucket runs are cut by batch
    boundaries and carried into the next batch: candidates and verified
    pairs equal the default-batch output, with and without a skew cap
    that drops buckets — also when Spark hands Python large (64-bit
    offset) string and binary types. So do tiny pair and verify
    blocks."""
    df = _docs_df(spark, make_corpus(n_base=6, variants=3))

    def run():
        return [sorted(map(tuple, f().collect())) for f in (
            lambda: D.minhash_lsh_candidates(df, max_bucket=3,
                                             hash_fn=hash_fn),
            lambda: D.minhash_neardup_pairs(df, min_est=0.3, threshold=0.4,
                                            hash_fn=hash_fn),
            lambda: D.minhash_neardup_pairs(df, max_bucket=3,
                                            hash_fn=hash_fn))]

    want = run()
    assert all(want)
    confs = ("spark.sql.execution.arrow.maxRecordsPerBatch",
             "spark.sql.execution.arrow.useLargeVarTypes")
    old = [spark.conf.get(c) for c in confs]
    try:
        spark.conf.set(confs[0], "2")
        assert run() == want
        spark.conf.set(confs[1], "true")
        assert run() == want
    finally:
        for c, v in zip(confs, old):
            spark.conf.set(c, v)
    monkeypatch.setattr(D, "_PAIR_BLOCK", 5)
    monkeypatch.setattr(D, "_VERIFY_PROBES", 300)
    assert run() == want


def test_common_counts_match_set_intersections(monkeypatch):
    """The in-bucket verifier counts DISTINCT common values, as
    ``size(array_intersect)`` does, also when a row repeats a value (a
    shingle-hash collision), and reads rows through absolute offsets
    (an Arrow list slice's view of its values): whole, and halved down
    to single pairs."""
    rng = np.random.default_rng(5)
    rows = [rng.integers(0, 40, rng.integers(1, 30)) for _ in range(12)]
    rows[3] = np.array([7, 7, 7, 9])
    vals = np.concatenate([[-1, -2, -3]] + rows)
    offs = 3 + np.concatenate([[0], np.cumsum([len(r) for r in rows])])
    ia, ib = np.triu_indices(len(rows), 1)
    want = [len(set(rows[a]) & set(rows[b])) for a, b in zip(ia, ib)]
    assert list(D._common_counts(vals, offs, ia, ib)) == want
    monkeypatch.setattr(D, "_VERIFY_CELLS", 0)
    assert list(D._common_counts(vals, offs, ia, ib)) == want


def test_minhash_degenerate_inputs(spark):
    """An empty corpus and a one-document corpus give empty pair frames
    with the usual columns and types; fuzzy decontamination returns one
    clean row per train document (none for an empty train set), and a
    one-document train set against itself is contaminated."""
    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, "a single short document")], schema)
    pair_cols = ["id_a bigint", "id_b bigint"]
    for df in (empty, one):
        for hf in HASH_FNS:
            cands = D.minhash_lsh_candidates(df, hash_fn=hf)
            pairs = D.minhash_neardup_pairs(df, hash_fn=hf)
            assert [f"{c} {t}" for c, t in cands.dtypes] == \
                pair_cols + ["est_jaccard double"]
            assert [f"{c} {t}" for c, t in pairs.dtypes] == \
                pair_cols + ["jaccard double"]
            assert cands.collect() == [] and pairs.collect() == []
    fuzzy_types = [("doc_id", "bigint"), ("max_eval_jaccard", "double"),
                   ("n_eval_matches", "bigint"), ("contaminated", "boolean")]
    out = D.fuzzy_decontaminate(empty, empty)
    assert out.dtypes == fuzzy_types and out.collect() == []
    out = D.fuzzy_decontaminate(one, empty)
    assert out.dtypes == fuzzy_types
    assert [tuple(r) for r in out.collect()] == [(1, None, 0, False)]
    assert [tuple(r) for r in D.fuzzy_decontaminate(one, one).collect()] \
        == [(1, 1.0, 1, True)]


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_simhash_matches_python(spark, hash_fn):
    docs = make_corpus(n_base=6, variants=2)
    got = {r["doc_id"]: r["simhash"]
           for r in D.simhash(_docs_df(spark, docs), hash_fn=hash_fn).collect()}
    exp = {did: py_simhash(t, hash_fn=hash_fn) for did, t in docs}
    assert got == exp


def test_simhash_md5_rejects_wide_bits(spark):
    df = _docs_df(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="bits"):
        D.simhash(df, bits=64, hash_fn="md5")
    # 60 bits is the documented ceiling and must be accepted
    assert D.simhash(df, bits=60, hash_fn="md5").collect()


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_simhash_pairs_match_python(spark, hash_fn):
    docs = make_corpus()
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in D.simhash_neardup_pairs(_docs_df(spark, docs), max_hamming=4,
                                            hash_fn=hash_fn).collect()}
    exp = py_simhash_pairs(docs, max_hamming=4, hash_fn=hash_fn)
    assert got == exp
    assert len(got) >= 5


def test_simhash_real_documents_match_python(spark):
    """Same differential on the driver's real documents table
    (sf0.001) — the corpus the gated dedup_simhash query runs on."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(200)
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    exp = {did: py_simhash(t) for did, t in rows}
    assert got == exp


def test_minhash_real_documents_match_python(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(60)
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    got = {r["_id"]: [r[f"h{i}"] for i in range(32)]
           for r in D.minhash_signatures(df).collect()}
    params = mh_params(32)
    exp = {did: py_signature(t, params) for did, t in rows}
    assert got == exp


# --- connected components (fuzzy-dedup canonicalization) ---

def py_components(pairs, nodes):
    """Union-find oracle: min id per component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("edge_cap", [D._DRIVER_MAX_EDGES, 0],
                         ids=["driver-unionfind", "distributed-loop"])
def test_connected_components_match_union_find(spark, monkeypatch, edge_cap):
    """Random graph with chains, triangles, and singletons — chains
    exercise multi-round label propagation. Both regimes (the
    small-edge-set driver union-find and the distributed pointer-
    jumping loop, forced by a zero ``_DRIVER_MAX_EDGES``) must agree
    with the independent Python union-find."""
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", edge_cap)
    import random
    rng = random.Random(7)
    nodes = list(range(120))
    pairs = set()
    # a long chain (worst case for propagation), two cliques, random edges
    for i in range(30):
        pairs.add((i, i + 1))
    for grp in ([50, 51, 52, 53], [60, 61, 62]):
        for i in grp:
            for j in grp:
                if i < j:
                    pairs.add((i, j))
    for _ in range(25):
        a, b = rng.sample(range(70, 110), 2)
        pairs.add((min(a, b), max(a, b)))
    pdf = spark.createDataFrame(sorted(pairs), ["id_a", "id_b"])
    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    got = {r["id"]: r["component"]
           for r in D.connected_components(
               pdf, nodes=ndf).collect()}
    assert got == py_components(sorted(pairs), nodes)


def test_connected_components_string_ids(spark, monkeypatch):
    """Non-long id types ride both paths: the driver label map must
    inherit the edge column type (regression: the fast path hardcoded
    longs and graph_wcc's string vertex keys blew up)."""
    pairs = [("s1", "s2"), ("s2", "s3"), ("x9", "x8")]
    pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
    for cap in (D._DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", cap)
        got = {r["id"]: r["component"] for r in D.connected_components(
            pdf).collect()}
        assert got == {"s1": "s1", "s2": "s1", "s3": "s1",
                       "x8": "x8", "x9": "x8"}


def test_connected_components_warns_on_max_iters(spark, caplog,
                                                 monkeypatch):
    """A 10-chain cannot converge in 2 rounds — the truncation must be
    loud (no silent caps). A zero _DRIVER_MAX_EDGES forces the
    iterative path (the driver union-find has no rounds to cap)."""
    import logging
    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    pairs = [(i, i + 1) for i in range(10)]
    pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
    with caplog.at_level(logging.WARNING, logger="agensgraph_spark.pipeline.dedup"):
        D.connected_components(pdf, max_iters=2).collect()
    assert any("max_iters" in r.message for r in caplog.records)


def test_ngram_overlap_semantics(spark):
    """Self-overlap is total; disjoint docs hit zero; short docs (<n
    tokens) report zero grams rather than junk windows."""
    rows = [
        (1, "the cat sat on the mat and then it ran away home"),
        (2, "completely different words entirely unrelated to anything here today now"),
        (3, "too short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ev = df.filter("doc_id = 1")
    got = {r["doc_id"]: (r["n_grams"], r["n_hits"])
           for r in D.ngram_overlap(df, ev, n=8).collect()}
    assert got[1][0] > 0 and got[1][0] == got[1][1]   # full self-collision
    assert got[2] == (got[2][0], 0) and got[2][0] > 0  # zero hits
    assert got[3] == (0, 0)


def test_asof_join_random_differential_vs_duckdb(spark):
    """500 random left rows x 300 right rows across 8 keys, compared
    against DuckDB's native ASOF JOIN — seed-fixed bulk differential
    for the union+window formulation."""
    import datetime as dt
    import random

    import duckdb
    from agensgraph_spark.operators.temporal import asof_join

    rng = random.Random(11)
    base = dt.datetime(2024, 3, 1)
    lrows = [(i, f"k{rng.randrange(8)}",
              base + dt.timedelta(seconds=rng.randrange(100_000)))
             for i in range(500)]
    rrows = [(f"k{rng.randrange(8)}",
              base + dt.timedelta(seconds=rng.randrange(100_000)),
              float(i)) for i in range(300)]
    left = spark.createDataFrame(lrows, ["lid", "k", "ts"])
    right = spark.createDataFrame(rrows, ["k", "ts", "val"])
    got = {r["lid"]: (r["matched"]["ts"], r["matched"]["val"])
           if r["matched"] is not None else None
           for r in asof_join(left, right, on="ts", by=("k",)).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE l (lid BIGINT, k VARCHAR, ts TIMESTAMP)")
    con.execute("CREATE TABLE r (k VARCHAR, ts TIMESTAMP, val DOUBLE)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?)", lrows)
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", rrows)
    exp = {lid: (rts, val) if rts is not None else None
           for lid, rts, val in con.execute(
               "SELECT l.lid, r.ts, r.val FROM l "
               "ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts").fetchall()}
    assert got == exp


def test_range_join_random_differential_vs_duckdb(spark):
    """Random points x random ranges (spanning 0-5 bins each) vs the
    plain inequality join — the binned rewrite must be invisible."""
    import datetime as dt
    import random

    import duckdb
    from agensgraph_spark.operators.temporal import range_join

    rng = random.Random(23)
    base = dt.datetime(2024, 3, 1)
    prow = [(f"k{rng.randrange(5)}", i,
             base + dt.timedelta(seconds=rng.randrange(50_000)))
            for i in range(400)]
    rrow = []
    for i in range(120):
        s = rng.randrange(50_000)
        rrow.append((f"k{rng.randrange(5)}", i,
                     base + dt.timedelta(seconds=s),
                     base + dt.timedelta(seconds=s + rng.randrange(0, 18_000))))
    pts = spark.createDataFrame(prow, ["k", "pid", "p"])
    rngs = spark.createDataFrame(rrow, ["k", "rid", "start", "end"])
    got = sorted((r["pid"], r["rid"]) for r in range_join(
        pts, rngs, point="p", start="start", end="end",
        by=("k",), bin_sec=3600.0).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE p (k VARCHAR, pid BIGINT, p TIMESTAMP)")
    con.execute("CREATE TABLE r (k VARCHAR, rid BIGINT, s TIMESTAMP, e TIMESTAMP)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", prow)
    con.executemany("INSERT INTO r VALUES (?, ?, ?, ?)", rrow)
    exp = sorted(map(tuple, con.execute(
        "SELECT p.pid, r.rid FROM p JOIN r ON p.k = r.k "
        "AND p.p >= r.s AND p.p <= r.e").fetchall()))
    assert got == exp and len(got) > 100


def test_connected_components_random_vs_duckdb(spark, monkeypatch):
    """Random 300-node pair graph vs a DuckDB recursive-CTE min-reach —
    a second independent oracle beside the union-find replay.
    A zero _DRIVER_MAX_EDGES keeps this one on the DISTRIBUTED loop (the
    driver union-find path is covered by the parametrized union-find
    differential and the gated dedup_cluster row)."""
    import random

    import duckdb

    monkeypatch.setattr(D, "_DRIVER_MAX_EDGES", 0)
    rng = random.Random(31)
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in (rng.sample(range(300), 2) for _ in range(260))})
    pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(n,) for n in range(300)], ["id"])
    got = {r["id"]: r["component"]
           for r in D.connected_components(
               pdf, nodes=nodes).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    exp = dict(con.execute("""
        WITH RECURSIVE e AS (SELECT a AS s, b AS d FROM p
                             UNION ALL SELECT b, a FROM p),
        reach(id, r) AS (
            SELECT * FROM (SELECT range AS id, range AS r FROM range(300))
            UNION
            SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
        SELECT id, min(r) FROM reach GROUP BY id""").fetchall())
    assert got == exp


def test_jaccard_char_pairs_requires_bound(spark):
    """All-pairs char Jaccard without an explicit scope is a corpus²
    crossJoin — the public API must refuse it loudly, and the
    candidate-frame scope must produce exactly the bounded result."""
    import pytest

    docs = spark.createDataFrame(
        [(i, "abcdefg"[: 3 + i % 4]) for i in range(10)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="max_id"):
        D.jaccard_char_pairs(docs)

    by_range = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"])
                for r in D.jaccard_char_pairs(docs, max_id=4).collect()}
    cand = spark.createDataFrame([(i,) for i in range(4)], ["_id"])
    by_cand = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"])
               for r in D.jaccard_char_pairs(docs, candidates=cand).collect()}
    assert by_range == by_cand and len(by_range) == 6
