"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup is one hash-aggregate (map-side partial combine);
- MinHash shingle hashes, signatures and LSH bucket keys come from one
  map-only Arrow kernel per document batch (`_minhash_frame`: each
  distinct shingle of a batch is hashed once, the signature is built
  one slot at a time in numpy) after one narrow spread;
- LSH pairs come from one shuffle of each document per band, sorted by
  bucket, and one Arrow scan over the runs of equal bucket keys
  (`_bucket_pairs`): a pair is formed, owned by the first band whose
  kept bucket holds it, estimated and verified inside its bucket, so
  no candidate pair is ever joined, deduplicated or shuffled, and
  oversized buckets (the skew cap) are dropped before any pairing;
- SimHash reduces to one explode + one aggregation;
- pairwise Jaccard verification runs only on LSH candidates (or an
  explicitly bounded id range), never on the full cross product.

Everything is deterministic. The MinHash kernel reproduces Spark's
xxhash64 and the portable md5-prefix hash bit for bit, so both hash
modes give the same longs a JVM-side expression would; every other
operator here is built from `pyspark.sql.functions`.
"""

from __future__ import annotations

import hashlib
import logging
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agensgraph_spark.operators import _superstep as S
from agensgraph_spark.session import local_frame

log = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per identical key; report group
    size. One shuffle (hash aggregate)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# Two interchangeable 64-bit-ish string hashes power every fuzzy-dedup
# operator below:
# - 'xxh64' (default): Spark's xxhash64 (XXH64 with seed 42 over the
#   UTF-8 bytes) — no other SQL engine can replay it;
# - 'md5': the first 15 hex chars of md5 as a 60-bit non-negative
#   long — bit-exactly reproducible in ANY SQL engine (DuckDB: CAST('0x'||substring(
#   md5(s),1,15) AS BIGINT)), so external oracles can replay the
#   whole MinHash/SimHash pipeline. Same pattern as text.fingerprint's
#   md5 fingerprints (README.md).
# Collision behavior is equivalent (60 vs 64 bits is immaterial at
# n²/2⁶⁰ rates); min-hash/banding statistics are unchanged.
# SimHash hashes its tokens JVM-side with the SQL form below; MinHash
# hashes its shingles in `_minhash_frame`'s Arrow kernel, which
# reproduces both modes bit for bit.
_HASH_FNS = ("xxh64", "md5")


def _check_hash_fn(hash_fn: str) -> None:
    if hash_fn not in _HASH_FNS:
        raise ValueError(
            f"unknown hash_fn {hash_fn!r} (expected 'xxh64' or 'md5')")


# Rendered as SQL text, not Column objects: a wide projection built
# through the Column API costs one py4j round trip per function node,
# while one selectExpr ships the whole projection to the JVM parser in
# one call.
def _str_hash_sql(s: str, hash_fn: str) -> str:
    _check_hash_fn(hash_fn)
    if hash_fn == "xxh64":
        return f"xxhash64({s})"
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


# MinHash slot derivation — one O(len) string hash per distinct
# shingle, then a cheap per-slot derive on the resulting long (string
# hashing dominates signature cost, so this is a several-fold cut over
# num_hashes string hashes with the same collision guarantees). The
# derive differs by mode:
#
# - 'xxh64' (default): slot_i = min over shingles of
#   xxhash64(base_hash, i) — Spark's two-column hash, a fresh
#   full-strength 8-byte hash per slot. Effectively an independent
#   random permutation per slot, so the estimator stays unbiased even
#   on tiny shingle universes.
# - 'md5' (portable): the affine 2-wise family
#   (a_i * (h mod p) + b_i) mod p over the Mersenne prime 2^31-1 (the
#   construction Spark ML's MinHashLSH uses; 31-bit coefficients so
#   every product fits a long), because external SQL engines (the
#   DuckDB oracle) can replay modular arithmetic but not xxhash64.
#   CAVEAT: 2-wise independence is NOT min-wise independence — on
#   corpora whose distinct-shingle universe is tiny (templated
#   synthetic text: ~2k shingles), the affine family's est_jaccard can
#   drift by a few points either way (measured here: md5 -0.006, while
#   an affine-over-xxh64 family drifted +0.06 and inflated est>=0.3
#   candidates ~9x — the reason the default uses the per-slot strong
#   hash).
_MH_PRIME = (1 << 31) - 1


def _mh_params(num_hashes: int) -> "list[tuple[int, int]]":
    params = []
    x = 0x9E3779B9
    for _ in range(num_hashes):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        a = x % (_MH_PRIME - 1) + 1
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        b = x % _MH_PRIME
        params.append((a, b))
    return params


# Spark's XXH64 (Catalyst `XXH64`: seed 42, little-endian words),
# vectorized over numpy uint64 arrays, which wrap mod 2^64 exactly like
# the JVM's longs. Constants are folded in Python ints so no numpy
# scalar arithmetic can overflow.
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
_U = np.uint64
_X1, _X2, _X3, _X4, _X5 = map(_U, (_P1, _P2, _P3, _P4, _P5))
_XSEED = 42
_ZERO = _U(0)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _xround(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _X2, 31) * _X1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> _U(33))) * _X2
    h = (h ^ (h >> _U(29))) * _X3
    return h ^ (h >> _U(32))


def _xxh64_rows(buf: np.ndarray) -> np.ndarray:
    """XXH64 (seed 42) of every row of an (n, L) uint8 matrix: n
    strings of one UTF-8 byte length L, including the 32-byte stripe
    loop for L >= 32. Returns uint64."""
    n, length = buf.shape

    def lane(i: int, w: int) -> np.ndarray:  # little-endian w-byte words
        return (np.ascontiguousarray(buf[:, i:i + w]).view(f"<u{w}")[:, 0]
                .astype(np.uint64))

    i = 0
    if length >= 32:
        v = [np.full(n, (_XSEED + s) & _M64, dtype=np.uint64)
             for s in (_P1 + _P2, _P2, 0, -_P1)]
        while i + 32 <= length:
            v = [_xround(v[j], lane(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vj in v:
            h = (h ^ _xround(_ZERO, vj)) * _X1 + _X4
    else:
        h = np.full(n, _XSEED + _P5, dtype=np.uint64)
    h = h + _U(length)
    while i + 8 <= length:
        h = _rotl(h ^ _xround(_ZERO, lane(i, 8)), 27) * _X1 + _X4
        i += 8
    if i + 4 <= length:
        h = _rotl(h ^ (lane(i, 4) * _X1), 23) * _X2 + _X3
        i += 4
    for j in range(i, length):
        h = _rotl(h ^ (buf[:, j].astype(np.uint64) * _X5), 11) * _X1
    return _fmix(h)


def _hash_long(v: np.ndarray, seed) -> np.ndarray:
    """Catalyst ``XXH64.hashLong``: the hash of one 8-byte long."""
    h = seed + _U(_P5 + 8)
    return _fmix(_rotl(h ^ _xround(_ZERO, v), 27) * _X1 + _X4)


def _xxh64_strings(strs: list[str]) -> np.ndarray:
    """Spark ``xxhash64`` of each string as int64, one vectorized pass
    per distinct UTF-8 byte length."""
    enc = [s.encode() for s in strs]
    lens = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    out = np.empty(len(enc), dtype=np.uint64)
    for length in np.unique(lens).tolist():
        idx = np.flatnonzero(lens == length)
        buf = np.frombuffer(b"".join([enc[j] for j in idx]),
                            dtype=np.uint8).reshape(len(idx), length)
        out[idx] = _xxh64_rows(buf)
    return out.view(np.int64)


def _md5_strings(strs: list[str]) -> np.ndarray:
    """The 60-bit md5-prefix hash of each string as int64."""
    return np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in strs),
        dtype=np.int64, count=len(strs))


def _minhash_slots(h: np.ndarray, hash_fn: str,
                   num_hashes: int) -> Iterator[np.ndarray]:
    """The per-slot values (int64) of each shingle hash ``h``, one slot
    at a time, per the family note above."""
    if hash_fn == "xxh64":
        base = _hash_long(h.view(np.uint64), _U(_XSEED))
        for i in range(num_hashes):
            yield _hash_long(np.full(1, i, dtype=np.uint64), base).view(np.int64)
    else:
        hm = h % _MH_PRIME
        for a, b in _mh_params(num_hashes):
            yield (hm * a + b) % _MH_PRIME


# Shingle occurrences per kernel chunk: bounds a Python worker's memo,
# code list and per-slot gathers at a few hundred MB however long or
# unrepetitive the documents of one Arrow batch are.
_CHUNK_SHINGLES = 1 << 21


def _shingle_codes(
    texts: list[str], k: int, cap: int,
) -> Iterator[tuple[list[str], np.ndarray, np.ndarray]]:
    """Split ``texts`` into chunks of whole documents holding about
    ``cap`` shingles each, and yield per chunk: its distinct shingle
    strings (the memo, in code order), every document's distinct
    shingles as codes into them, concatenated, and the per-document
    offsets into those codes."""
    i, n = 0, len(texts)
    while i < n:
        memo: dict[str, int] = {}
        codes: list[int] = []
        offs = [0]
        while i < n and len(codes) < cap:
            t = texts[i]
            shingles = dict.fromkeys(
                [t[j:j + k] for j in range(max(len(t) - k + 1, 1))])
            codes.extend([memo.setdefault(s, len(memo)) for s in shingles])
            offs.append(len(codes))
            i += 1
        yield (list(memo), np.asarray(codes, dtype=np.int64),
               np.asarray(offs, dtype=np.int64))


def _bucket_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(n, bands) LSH bucket keys of (n, num_hashes) signatures: XXH64
    (seed 42) of each band's slot-slice bytes."""
    rows = sig.shape[1] // bands
    return np.stack([
        _xxh64_rows(np.ascontiguousarray(sig[:, b * rows:(b + 1) * rows])
                    .view(np.uint8).reshape(len(sig), 8 * rows))
        for b in range(bands)], axis=1).view(np.int64)


def _minhash_frame(df: DataFrame, text_col: str, id_col: str, k: int,
                   hash_fn: str, num_hashes: int = 0,
                   keep_sh: bool = True, bands: int = 0) -> DataFrame:
    """The one MinHash kernel: (_id, _sh, _sig) per document from a
    single Arrow pass — ``_sh`` the distinct k-shingle hashes (array of
    longs, first-occurrence order; kept when ``keep_sh``), ``_sig`` the
    ``num_hashes``-slot signature (kept when ``num_hashes`` > 0).

    With ``bands`` (the LSH paths) the frame also holds ``_bk``, the
    document's ``bands`` bucket keys (`_bucket_keys`). Bucket keys
    never reach the output; only the grouping they induce matters, and
    the fold is injective modulo negligible collisions, so an external
    oracle grouping by the RAW slice forms the same buckets
    (md5-portable parity is unaffected; asserted by the gate oracle and
    the md5 differential).

    Shape: one spread repartition on the id (document corpora often
    arrive as few Parquet files; without it a handful of tasks would do
    all the shingling), Spark's ``lower`` in the JVM, then one
    ``mapInArrow`` — map-only, no Python UDF. Per Arrow batch, each
    document's distinct k-shingles are the code-point slices at
    ``max(len - k + 1, 1)`` start positions (empty or short text is
    one shingle), each DISTINCT shingle string of the batch is hashed
    once through a batch-local memo (a batch of long documents is cut
    into chunks of ``_CHUNK_SHINGLES`` shingles, each with its own
    memo), and the signature is built one slot at a time with
    ``np.minimum.reduceat`` over the per-document runs, so no
    shingles x num_hashes matrix is ever formed.

    Degenerate input refuses loudly: a NULL id or NULL text fails the
    Spark task that reads it, and the action raises the task's
    ``PythonException`` carrying ``minhash: NULL doc id`` or
    ``minhash: NULL text`` (it would otherwise pair NULL-text documents
    as exact duplicates, or drop a NULL-id document from every
    pair)."""
    import pyarrow as pa
    import pyspark.sql.types as T

    _check_hash_fn(hash_fn)
    str_hash = _xxh64_strings if hash_fn == "xxh64" else _md5_strings
    spread = df.sparkSession.sparkContext.defaultParallelism
    base = (df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
              .repartition(spread, "_id")
              .select("_id", F.lower("_t").alias("_t")))
    longs = T.ArrayType(T.LongType(), containsNull=False)
    fields = [T.StructField("_id", base.schema["_id"].dataType)]
    if keep_sh:
        fields.append(T.StructField("_sh", longs))
    if num_hashes:
        fields.append(T.StructField("_sig", longs))
    if bands:
        fields.append(T.StructField("_bk", longs))
    names = [f.name for f in fields]

    def lists(vals: np.ndarray, offs: np.ndarray):
        return pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)),
                                        pa.array(vals))

    cap = _CHUNK_SHINGLES

    def kernel(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids, texts = b.column(0), b.column(1)
            if ids.null_count:
                raise ValueError("minhash: NULL doc id")
            if texts.null_count:
                raise ValueError("minhash: NULL text")
            lo = 0
            for distinct, code, offs in _shingle_codes(
                    texts.to_pylist(), k, cap):
                h = str_hash(distinct)
                n = len(offs) - 1
                cols = [ids.slice(lo, n)]
                lo += n
                if keep_sh:
                    cols.append(lists(h[code], offs))
                if num_hashes:
                    sig = np.empty((n, num_hashes), dtype=np.int64)
                    for i, v in enumerate(
                            _minhash_slots(h, hash_fn, num_hashes)):
                        sig[:, i] = np.minimum.reduceat(v[code], offs[:-1])
                    cols.append(lists(
                        sig.ravel(), np.arange(0, sig.size + 1, num_hashes)))
                if bands:
                    cols.append(lists(_bucket_keys(sig, bands).ravel(),
                                      np.arange(0, n * bands + 1, bands)))
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return base.mapInArrow(kernel, T.StructType(fields))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 5,
    hash_fn: str = "xxh64",
) -> DataFrame:
    """MinHash signatures, one row per document: (_id, h0..h{n-1}).
    Built by the shared Arrow kernel (`_minhash_frame`): the stage is
    map-only after one narrow (id, text) spread — no explode, no
    aggregation, no Python UDF — and a NULL id or text raises."""
    return _minhash_frame(df, text_col, id_col, k, hash_fn, num_hashes,
                          keep_sh=False).selectExpr(
        "_id", *[f"_sig[{i}] AS h{i}" for i in range(num_hashes)])


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    min_est: float = 0.0,
    max_bucket: int = 10_000,
    hash_fn: str = "xxh64",
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair. Returns (id_a, id_b, est_jaccard) with
    id_a < id_b, distinct.

    Pairs come from one scan over band buckets (``_bucket_pairs``):
    each document is shuffled once per band, sorted by bucket key, and
    one ``mapInArrow`` pass walks the runs of equal keys, so a pair is
    formed next to both signatures and no pair is ever joined back to
    them. ``est_jaccard`` is the share of equal signature slots (what
    Spark ML's MinHashLSH thresholds on). A pair is emitted only by the
    first band whose kept bucket holds both documents, so no pair
    dedup shuffle runs either. ``max_bucket`` caps degenerate buckets
    (e.g. an empty-string band) so one hot key cannot go quadratic —
    the standard LSH skew guard. The log states how many buckets the
    cap dropped; ``lsh_skew_stats`` (same parameters) gives their size
    distribution.

    Corpora with large near-duplicate clusters produce O(cluster²)
    candidates; pass ``min_est`` a notch under the final exact
    threshold so exact verification only runs on plausible pairs.

    Executes EAGERLY: the candidate set is materialized at call time
    (`_superstep.truncate`) so the signature pin can be released
    instead of leaking for the session — also when a NULL id or text
    fails the call (the Spark task's ``PythonException`` carrying
    ``minhash: NULL …``). Pass ``min_est`` rather than composing a
    post-hoc filter, and note localCheckpoint storage does not survive
    executor loss (see README's fault-model note)."""
    with S.pin(_minhash_frame(df, text_col, id_col, k, hash_fn, num_hashes,
                              keep_sh=False, bands=bands)) as sig:
        return S.truncate(_bucket_pairs(sig, "minhash_lsh_candidates",
                                        num_hashes, bands, min_est,
                                        max_bucket))


def _banded(frame: DataFrame) -> DataFrame:
    """One row per (document, band) of a kernel frame with ``_bk``: its
    columns plus ``(_band, _bhash)``, the row's bucket — the shared
    banding of ``_bucket_pairs`` and ``lsh_skew_stats``."""
    return frame.selectExpr("*", "posexplode(_bk) AS (_band, _bhash)")


def _bucket_sizes(banded: DataFrame) -> DataFrame:
    """(_band, _bhash, _n): the member count of every band bucket."""
    return banded.groupBy("_band", "_bhash").agg(
        F.count(F.lit(1)).alias("_n"))


# Pairs per vectorized block of the bucket scan: bounds the signature
# and bucket-key gathers at a few MB per block however large a run is.
_PAIR_BLOCK = 1 << 15
# Bounds of one verify block: shingle-hash probes, and cells of its
# 0/1 (row x distinct shingle) incidence matrix. A larger block is
# halved until both hold.
_VERIFY_PROBES = 1 << 21
_VERIFY_CELLS = 1 << 24


def _run_pairs(starts: np.ndarray, lens: np.ndarray
               ) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Every in-run row pair (i, j), i < j, of the runs ``[s, s + n)``,
    as (i, j) index arrays in blocks of about ``_PAIR_BLOCK`` pairs.
    Each row of a run is one unit pairing with the rows after it."""
    per = lens - 1
    run = np.repeat(np.arange(len(lens)), per)
    pos = np.arange(len(run)) - np.repeat(np.cumsum(per) - per, per)
    unit_row = starts[run] + pos
    cnt = lens[run] - 1 - pos
    ends = np.cumsum(cnt)
    u0 = 0
    while u0 < len(cnt):
        base = ends[u0] - cnt[u0]
        u1 = max(int(np.searchsorted(ends, base + _PAIR_BLOCK, "right")),
                 u0 + 1)
        c = cnt[u0:u1]
        ia = np.repeat(unit_row[u0:u1], c)
        yield ia, ia + 1 + _ranges(np.zeros(len(c), np.int64), c)
        u0 = u1


def _ranges(lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The concatenated index ranges ``[lo[i], lo[i] + n[i])``."""
    return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())


def _common_counts(vals: np.ndarray, offs: np.ndarray, ia: np.ndarray,
                   ib: np.ndarray) -> np.ndarray:
    """Distinct values common to rows ``ia[p]`` and ``ib[p]`` of the
    list column (``vals``, ``offs``), per pair — what
    ``size(array_intersect(a, b))`` counts. The involved rows' values
    become dense codes and a 0/1 (row x code) incidence matrix; each
    pair probes row ``ia``'s line of it with row ``ib``'s distinct
    codes. A block over ``_VERIFY_PROBES`` or ``_VERIFY_CELLS`` is
    halved."""
    import pyarrow as pa

    def halves() -> np.ndarray:
        h = len(ia) // 2
        return np.concatenate([_common_counts(vals, offs, ia[:h], ib[:h]),
                               _common_counts(vals, offs, ia[h:], ib[h:])])

    if len(ia) > 1 and (offs[ib + 1] - offs[ib]).sum() > _VERIFY_PROBES:
        return halves()
    rows, inv = np.unique(np.concatenate([ia, ib]), return_inverse=True)
    n = offs[rows + 1] - offs[rows]
    enc = pa.array(vals[_ranges(offs[rows], n)]).dictionary_encode()
    if len(ia) > 1 and len(rows) * len(enc.dictionary) > _VERIFY_CELLS:
        return halves()
    width = len(enc.dictionary)
    code = enc.indices.to_numpy()
    inc = np.zeros(len(rows) * width, dtype=bool)
    inc[np.repeat(np.arange(len(rows)) * width, n) + code] = True
    seg = np.concatenate([[0], np.cumsum(n)])
    if np.count_nonzero(inc) < len(code):
        # a hash collision repeats a value within a row: probe with
        # each row's distinct codes instead
        row, code = inc.reshape(len(rows), width).nonzero()
        seg = np.searchsorted(row, np.arange(len(rows) + 1))
    la, lb = inv[:len(ia)], inv[len(ia):]
    qn = seg[lb + 1] - seg[lb]
    hit = inc[np.repeat(la * width, qn) + code[_ranges(seg[lb], qn)]]
    ends = np.cumsum(np.concatenate([[0], hit]))[np.cumsum(qn)]
    return ends - np.concatenate([[0], ends[:-1]])


def _bucket_pairs(frame: DataFrame, caller: str, num_hashes: int,
                  bands: int, min_est: float, max_bucket: int,
                  threshold: "float | None" = None) -> DataFrame:
    """The LSH back half over a persisted banded kernel frame (_id,
    _sig, _bk[, _sh]): (id_a, id_b, est_jaccard), or with
    ``threshold`` (and ``_sh``) the exactly verified (id_a, id_b,
    jaccard).

    - One narrow aggregate collects the bucket keys over
      ``max_bucket`` — at most n·bands/``max_bucket`` of them, usually
      none — and the log states their number.
    - Every document is shuffled once per band on ``(_band, _bhash)``
      and sorted by (bucket, id) within partitions.
    - One ``mapInArrow`` pass walks the runs of equal keys; a run cut
      by an Arrow batch boundary is carried into the next batch. Rows
      of oversized buckets are dropped, runs of one row pair nothing.
    - In-run pairs are vectorized in blocks (``_PAIR_BLOCK``). A pair
      is kept only in the first band whose kept bucket holds both
      documents: equal bucket keys in an earlier band, unless that
      bucket is oversized, mean an earlier run owns it — so there is no
      global ``distinct``. Then ``est_jaccard`` (equal slots /
      ``num_hashes``) cuts pairs under ``min_est``.
    - Verification: distinct common shingle hashes over ``size(sa) +
      size(sb) - common``, in float64 — the same IEEE value Spark's
      ``size(array_intersect)`` formula gives; common counts come from
      incidence probes (`_common_counts`) per pair block."""
    import pyarrow as pa
    import pyspark.sql.types as T

    verify = threshold is not None
    banded = _banded(frame)
    over: dict[int, list[int]] = {}
    for r in (_bucket_sizes(banded).filter(F.col("_n") > max_bucket)
              .select("_band", "_bhash").collect()):
        over.setdefault(r[0], []).append(r[1])
    over_keys = {b: np.asarray(h, dtype=np.int64) for b, h in over.items()}
    # the skew cap is never silent: the count comes from the aggregate
    # above, the size distribution from the audit it names
    log.info(
        "%s: skew cap max_bucket=%d dropped %d oversized bucket(s); "
        "lsh_skew_stats() gives the bucket-size distribution",
        caller, max_bucket, sum(len(h) for h in over.values()))

    cols = ["_band", "_bhash", "_id", "_bk", "_sig"] + (
        ["_sh"] if verify else [])
    # an explicit partition count: AQE would otherwise coalesce the
    # wide band rows into fewer scan tasks than there are cores
    spread = frame.sparkSession.sparkContext.defaultParallelism
    rows = (banded.select(*cols).repartition(spread, "_band", "_bhash")
            .sortWithinPartitions("_band", "_bhash", "_id"))
    id_type = frame.schema["_id"].dataType
    value = "jaccard" if verify else "est_jaccard"
    schema = T.StructType([T.StructField("id_a", id_type),
                           T.StructField("id_b", id_type),
                           T.StructField(value, T.DoubleType())])
    earlier = np.arange(bands)

    def kept_mask(bk: np.ndarray) -> "np.ndarray | None":
        # per row and band: is that band's bucket within the cap?
        if not over_keys:
            return None
        kept = np.ones(bk.shape, dtype=bool)
        for b, h in over_keys.items():
            kept[:, b] = ~np.isin(bk[:, b], h)
        return kept

    def matrix(col, width: int) -> np.ndarray:
        return col.flatten().to_numpy().reshape(-1, width)

    def emit(b):
        band = b.column(0).to_numpy()
        bhash = b.column(1).to_numpy()
        n = b.num_rows
        starts = np.flatnonzero(np.concatenate(
            [[True], (band[1:] != band[:-1]) | (bhash[1:] != bhash[:-1])]))
        lens = np.diff(np.append(starts, n))
        multi = lens >= 2
        if not multi.any():
            return
        ids, bk = b.column(2), matrix(b.column(3), bands)
        sig = matrix(b.column(4), num_hashes)
        kept = kept_mask(bk)
        if verify:
            # a sliced list column's offsets index its unsliced values
            sh = b.column(5)
            vals, offs = sh.values.to_numpy(), sh.offsets.to_numpy()
        for ia, ib in _run_pairs(starts[multi], lens[multi]):
            dup = (bk[ia] == bk[ib]) & (earlier < band[ia][:, None])
            if kept is not None:
                dup &= kept[ia]
            own = ~dup.any(axis=1)
            ia, ib = ia[own], ib[own]
            est = (sig[ia] == sig[ib]).sum(axis=1) / num_hashes
            keep = est >= min_est
            ia, ib, val = ia[keep], ib[keep], est[keep]
            if verify and len(ia):
                common = _common_counts(vals, offs, ia, ib)
                val = common / (offs[ia + 1] - offs[ia]
                                + offs[ib + 1] - offs[ib] - common)
                keep = val >= threshold
                ia, ib, val = ia[keep], ib[keep], val[keep]
            if len(ia):
                yield pa.RecordBatch.from_arrays(
                    [ids.take(pa.array(ia)), ids.take(pa.array(ib)),
                     pa.array(val)], names=schema.names)

    def scan(batches):
        tail = None
        for b in batches:
            if over_keys and b.num_rows:
                bk = matrix(b.column(3), bands)
                own = kept_mask(bk)[np.arange(b.num_rows),
                                    b.column(0).to_numpy()]
                b = b.filter(pa.array(own))
            if tail is not None:
                b = pa.RecordBatch.from_arrays(
                    [pa.concat_arrays([tail.column(i), b.column(i)])
                     for i in range(b.num_columns)], names=b.schema.names)
            if b.num_rows == 0:
                continue
            band = b.column(0).to_numpy()
            bhash = b.column(1).to_numpy()
            cut = np.flatnonzero((band[1:] != band[:-1])
                                 | (bhash[1:] != bhash[:-1]))
            last = int(cut[-1]) + 1 if len(cut) else 0
            yield from emit(b.slice(0, last))
            tail = b.slice(last)
        if tail is not None:
            yield from emit(tail)

    return rows.mapInArrow(scan, schema)


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    min_est: float = 0.0,
    threshold: float = 0.5,
    max_bucket: int = 10_000,
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Fused MinHash-LSH near-dup pipeline: candidate generation plus
    exact k-shingle verification. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= ``threshold`` — exactly the composition
    of ``minhash_lsh_candidates`` + ``ngram_jaccard_pairs`` with the
    same parameters (asserted by the pure-Python differential oracle in
    tests/test_differential_dedup.py), restructured for cost:

    - Candidates are verified inside their band bucket: the bucket scan
      of ``minhash_lsh_candidates`` carries each document's shingle
      hashes next to its signature, so a pair that survives ``min_est``
      is verified where it is formed — no pair is joined to the
      shingle arrays and no ``array_intersect`` runs.
    - ``jaccard`` is distinct common shingle hashes over
      ``|A|+|B|-|A∩B|``, in float64: the value ``ngram_jaccard_pairs``
      computes JVM-side, bit for bit.
    - Signatures and shingle hashes come from the same Arrow kernel
      (`_minhash_frame`) the two-stage composition uses, so the
      candidate set and the verified shingle sets are bit-identical
      to it.

    Scale shape: ONE kernel pass over the corpus emits both the
    signatures and the shingle hashes; that frame is persisted
    (MEMORY_AND_DISK, released at return). One narrow aggregate over
    its bucket keys finds the buckets over ``max_bucket``, then one
    shuffle carries each document's (id, bucket keys, signature,
    shingle hashes) once per band to the sorted bucket scan — each
    pair is formed, owned and verified in one place. The cap is
    announced as in ``minhash_lsh_candidates`` and audited by
    ``lsh_skew_stats``. A NULL id or text fails the call with the Spark
    task's ``PythonException`` carrying ``minhash: NULL …``; the pin
    is released all the same.

    Executes EAGERLY (cut at return, `_superstep.truncate`) so every
    pinned intermediate is released at call time — narrow the output with
    ``min_est``/``threshold``, not post-hoc filters."""
    base = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    # near-dup output is bounded; materialize it and release the pin so
    # repeated invocations don't accumulate pinned storage
    with S.pin(_minhash_frame(base, "_t", "_id", k, hash_fn, num_hashes,
                              bands=bands)) as sh:
        return S.truncate(_bucket_pairs(sh, "minhash_neardup_pairs",
                                        num_hashes, bands, min_est,
                                        max_bucket, threshold))


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **mh_kwargs,
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate complement
    of ``decontaminate_ngrams``'s exact 8-gram overlap: a train doc is
    contaminated when it is MinHash-near-dup to ANY eval doc, catching
    the light-paraphrase leaks exact n-gram containment misses
    (whitespace edits, a swapped sentence, re-tokenized quotes).

    Pure composition over the verified machinery: both corpora union
    into one frame with parity-encoded ids (train 2*id, eval 2*id+1 —
    requires numeric ids), ``minhash_neardup_pairs`` runs ONCE over
    the union with exactly its scale shape (one kernel pass, banding,
    bucket caps, verify), and only cross-parity pairs survive.
    Extra keyword args flow through to ``minhash_neardup_pairs``
    (threshold, bands, hash_fn, ...).

    At 100 TB the eval set is tiny next to train, so the union costs
    what train alone costs; every cross-corpus candidate comes out of
    the same banding shuffle (no train x eval join ever forms).

    Returns one row per TRAIN doc: (id, max_eval_jaccard double —
    NULL when clean, n_eval_matches long, contaminated boolean).

    The parity encoding halves the usable id space: ids must sit in
    (-2^62, 2^62) or 2*id(+1) would silently wrap in int64 — guarded
    by an in-expression raise (lazy branch, no extra job), so an
    out-of-range id fails the run loudly instead of colliding two
    documents."""
    lim = 1 << 62

    def _guarded(idc: Column) -> Column:
        idc = idc.cast("long")
        return F.when(
            (idc >= lim) | (idc <= -lim),
            F.raise_error(F.concat(
                F.lit("fuzzy_decontaminate: id "), idc.cast("string"),
                F.lit(" is outside (-2^62, 2^62) — the parity encoding "
                      "would overflow int64"))).cast("long")
        ).otherwise(idc)

    t = train.select((_guarded(F.col(id_col)) * 2).alias("_fid"),
                     F.col(text_col).alias("_ft"))
    e = eval_df.select((_guarded(F.col(id_col)) * 2 + 1).alias("_fid"),
                       F.col(text_col).alias("_ft"))
    pairs = minhash_neardup_pairs(t.unionByName(e), text_col="_ft",
                                  id_col="_fid", **mh_kwargs)
    cross = pairs.filter(
        F.pmod(F.col("id_a"), 2) != F.pmod(F.col("id_b"), 2))
    train_id = F.when(F.pmod(F.col("id_a"), 2) == 0, F.col("id_a")) \
        .otherwise(F.col("id_b"))
    # shiftright, NOT /2: Spark's / is double division, which silently
    # rounds ids above 2^53 (the guard test's 2^62-1 id would decode to
    # the wrong document); the encoded train id is even, so the
    # arithmetic shift is exact for the whole guarded range
    hits = (cross.select(F.shiftright(train_id, 1).alias(id_col),
                         "jaccard")
            .groupBy(id_col)
            .agg(F.max("jaccard").alias("max_eval_jaccard"),
                 F.count(F.lit(1)).alias("n_eval_matches")))
    return (train.select(id_col).join(hits, id_col, "left")
            .select(id_col, "max_eval_jaccard",
                    F.coalesce("n_eval_matches", F.lit(0)).cast("long")
                    .alias("n_eval_matches"),
                    F.col("n_eval_matches").isNotNull()
                    .alias("contaminated")))


def lsh_skew_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    max_bucket: int = 10_000,
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Deterministic audit for the LSH skew cap: per-band bucket-size
    distribution and how many buckets ``minhash_lsh_candidates`` (same
    parameters) would drop. One aggregate over the same banding and
    bucket sizes (`_banded`, `_bucket_sizes`) the bucket scan of
    ``minhash_lsh_candidates`` and ``minhash_neardup_pairs`` counts its
    dropped buckets from, so ``n_dropped`` is the number their log line
    states; run it before committing to a parameter choice on a new
    corpus."""
    sig = _minhash_frame(df, text_col, id_col, k, hash_fn, num_hashes,
                         keep_sh=False, bands=bands)
    return _bucket_sizes(_banded(sig)).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("_n") >= 2).cast("long")).alias("n_pairable"),
        F.sum((F.col("_n") > max_bucket).cast("long")).alias("n_dropped"),
        F.max("_n").alias("max_bucket_size"),
    )


def jaccard_char_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_id: int | None = None,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact character-set Jaccard over an explicitly BOUNDED scope
    (the verification step of near-dup detection): either an id range
    (``max_id``) or a candidate id frame (``candidates`` — one ``_id``/
    first column per doc, e.g. LSH bucket members). All-pairs on an
    unbounded corpus is a scale-killer, so the bound is REQUIRED — the
    function raises rather than silently planning a corpus² crossJoin.
    Returns (id_a, id_b, inter, uni) as exact integers — callers
    derive the ratio."""
    if max_id is None and candidates is None:
        raise ValueError(
            "jaccard_char_pairs is all-pairs within its scope; pass "
            "max_id=<bound> or candidates=<id frame> (at scale, feed "
            "LSH candidates — ngram_jaccard_pairs — instead)")
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    if candidates is not None:
        cand_ids = candidates.select(
            F.col(candidates.columns[0]).alias("_id")).distinct()
        base = base.join(cand_ids, "_id", "left_semi")
    if max_id is not None:
        base = base.filter(F.col("_id") < max_id)
    chars = base.select(
        "_id",
        F.array_distinct(F.split(F.lower(F.col("_t")), "")).alias("_chars"),
    ).select("_id", F.array_remove(F.col("_chars"), "").alias("_chars"))
    a = chars.select(F.col("_id").alias("id_a"), F.col("_chars").alias("ca"))
    b = chars.select(F.col("_id").alias("id_b"), F.col("_chars").alias("cb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect(F.col("ca"), F.col("cb"))).cast("long")
    uni = F.size(F.array_union(F.col("ca"), F.col("cb"))).cast("long")
    out = pairs.select("id_a", "id_b", inter.alias("inter"), uni.alias("uni"))
    if threshold > 0:
        out = out.filter(F.col("inter") >= F.col("uni") * threshold)
    return out


def ngram_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    hash_fn: str = "xxh64",
) -> DataFrame:
    """Verify LSH candidate pairs with exact k-shingle Jaccard.

    Only documents that appear in a candidate pair ever get shingled:
    the doc table is first semi-joined to the candidate id set, so the
    corpus-sized side is never shuffled or broadcast wholesale. The id
    set and the reduced shingle table are both candidate-bounded — AQE
    sees their runtime sizes and broadcasts them on its own, which is
    exactly the scale-safe plan (a forced full-table broadcast OOMs at
    corpus scale; a full-table shuffle to serve a few thousand pairs is
    the opposite failure)."""
    ids = (candidates.select(F.col("id_a").alias("_id"))
           .unionByName(candidates.select(F.col("id_b").alias("_id")))
           .distinct())
    # shingle sets are compared as the configured hash_fn's longs
    # (xxhash64, or 60-bit md5-prefix in portable mode), not 5-char
    # strings: set sizes are preserved (collisions are ~n²/2⁶⁰+,
    # negligible) and long-array intersection is several times cheaper
    # than string-array
    sh = _minhash_frame(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
            .join(ids, "_id", "left_semi"), "_t", "_id", k, hash_fn)
    j = (candidates
         .join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sa")), "id_a")
         .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sb")), "id_b"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    # |A∪B| = |A|+|B|-|A∩B| over the distinct shingle arrays:
    # array_union would materialize a corpus-width array per pair
    # just to take its size (~2x the verify stage's cost)
    uni = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    return (j.select("id_a", "id_b", (inter / uni).alias("jaccard"))
             .filter(F.col("jaccard") >= threshold))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxh64",
) -> DataFrame:
    """SimHash near-duplicate pairs: docs within ``max_hamming`` bits.
    Banding (pigeonhole: two hashes within k bits agree exactly on at
    least one of k+1 bands) turns the quadratic scan into a bucket
    join; the hamming check is one JVM-side bit_count(xor).
    Executes EAGERLY (cut at return, `_superstep.truncate`) so the
    signature pin is released at call time — narrow via ``max_hamming``, not
    post-hoc filters."""
    width = bits // bands
    with S.pin(simhash(df, text_col, id_col, bits, hash_fn)) as sig:
        banded = sig.select(
            F.col(id_col).alias("_id"), F.col("simhash").alias("_h"),
            F.posexplode(F.array(*[
                F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit((1 << width) - 1))
                for b in range(bands)
            ])).alias("_band", "_bkey"),
        )
        left = banded.select("_band", "_bkey", F.col("_id").alias("id_a"), F.col("_h").alias("ha"))
        right = banded.select("_band", "_bkey", F.col("_id").alias("id_b"), F.col("_h").alias("hb"))
        pairs = (left.join(right, ["_band", "_bkey"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b",
                         F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
                 .distinct())
        return S.truncate(pairs.filter(F.col("hamming") <= max_hamming))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32, hash_fn: str = "xxh64") -> DataFrame:
    """SimHash over whitespace tokens: bit j of the hash is the majority
    vote of bit j across token hashes. One explode + one aggregate."""
    if hash_fn == "md5" and bits > 60:
        # the md5-prefix hash carries only 60 bits — higher signature
        # bits would be constant zero and silently underestimate
        # hamming distances
        raise ValueError("simhash: bits must be <= 60 when hash_fn='md5' "
                         "(the md5-prefix hash is 60-bit)")
    # SQL-string construction, same rationale as _str_hash_sql: the
    # 32 per-bit aggregates + 32-term majority expression cost ~0.8s
    # of py4j plan-construction per invocation through the Column API
    toks = df.selectExpr(
        f"`{id_col}` AS _id",
        f"explode(split(trim(lower(`{text_col}`)), '\\\\s+')) AS _tok",
    ).selectExpr("_id", f"{_str_hash_sql('_tok', hash_fn)} AS _h")
    bit_sums = toks.groupBy("_id").agg(
        F.expr("count(1)").alias("_n"),
        *[F.expr(f"sum(shiftrightunsigned(_h, {j}) & 1)").alias(f"_b{j}")
          for j in range(bits)],
    )
    terms = " + ".join(
        f"(CASE WHEN _b{j} * 2 > _n THEN {1 << j}L ELSE 0L END)"
        for j in range(bits))
    return bit_sums.selectExpr(f"_id AS `{id_col}`", f"({terms}) AS simhash")


def canonical_by_score(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "score",
    require_scored: bool = False,
) -> DataFrame:
    """Quality-aware canonical selection: given cluster assignments
    (``connected_components`` output, or any (id, component) frame)
    and a per-id quality score, keep the HIGHEST-scoring member of
    each duplicate cluster instead of the arbitrary min-id one — the
    "keep the best copy" rule real curation pipelines apply (longest
    document, highest quality_score, lowest perplexity via a negated
    score). Ties break to the LOWEST id, so selection is total and
    deterministic.

    Skew-safe by construction: the per-cluster argmax is ONE hash
    aggregate — max(struct(score, -id)) — never a per-cluster sort
    window, so a degenerate giant cluster costs a partial-aggregated
    shuffle row, not a single-task sort. The one-row-per-cluster best
    frame then joins back (broadcast-sized at any realistic cluster
    count). Requires a numeric id (the tie-break negates it).

    JOIN SEMANTICS (explicit, not incidental): assignments INNER-join
    scores, so a cluster member with no score row is dropped from the
    output and can never be elected best — a cluster whose true best
    copy is unscored elects a different canonical with no signal.
    That is the right default when scores come from the same pipeline
    stage (every id has one); when they might not, pass
    ``require_scored=True`` to fail the run loudly on the first
    unscored member instead of silently dropping it.

    Returns (id, component, score, keep boolean, best_id)."""
    s = scores.select(F.col(id_col), F.col(score_col))
    if require_scored:
        sc = F.col(score_col)
        guarded = F.when(sc.isNull() & F.col(id_col).isNotNull(),
                         F.raise_error(F.concat(
                             F.lit("canonical_by_score: id "),
                             F.col(id_col).cast("string"),
                             F.lit(" has no score row "
                                   "(require_scored=True)")))
                         .cast(s.schema[score_col].dataType)
                         ).otherwise(sc)
        j = (assignments.select(F.col(id_col), F.col(comp_col))
             .join(s, id_col, "left")
             .select(id_col, comp_col, guarded.alias(score_col)))
    else:
        j = assignments.select(F.col(id_col), F.col(comp_col)).join(
            s, id_col)
    best = (j.groupBy(comp_col)
            .agg(F.max(F.struct(F.col(score_col).alias("_s"),
                                (-F.col(id_col)).alias("_nid"))).alias("_b"))
            .select(F.col(comp_col),
                    (-F.col("_b._nid")).alias("best_id")))
    return (j.join(best, comp_col)
            .select(id_col, comp_col, score_col,
                    (F.col(id_col) == F.col("best_id")).alias("keep"),
                    "best_id"))


# Edge count up to which connected_components and
# strongly_connected_components solve on the driver (~1.5 MB of longs)
# instead of running their distributed loops. Read at call time through
# this module, so tests flip both operators with one monkeypatch.
_DRIVER_MAX_EDGES = 100_000


def _driver_edges(raw: DataFrame) -> "list | None":
    """The rows of ``raw`` when it holds at most ``_DRIVER_MAX_EDGES``
    of them, else None — the regime gate of both driver fast paths.

    A bounded fused probe+fetch: ``limit(k+1).collect()`` ships at most
    k+1 narrow rows and short-circuits once k+1 exist, so a 100 TB edge
    frame is never persisted or counted in full, and len <= k means the
    fetch exhausted the frame — the rows in hand are the complete edge
    list. The edge-producing plan runs once, not twice (a probe-then-
    collect pair re-ran a full interpreted-cosine pair join in
    dedup_cluster / dedup_keep_best)."""
    cap = _DRIVER_MAX_EDGES
    local = raw.limit(cap + 1).collect()
    return local if len(local) <= cap else None


def _driver_label_frame(spark, labels, id_dt,
                        universe: DataFrame | None) -> DataFrame:
    """(id, component) frame from a driver-computed ``labels`` list —
    the shared tail of the driver regimes of `connected_components`
    and `strongly_connected_components`. The label map inherits the
    edge id type ``id_dt`` and is a `local_frame`: a local scan that
    runs no job of its own. ``universe`` (one ``id`` column) widens
    the output; its unlabeled ids label themselves. The endpoint
    universe is already on the driver, so the plan never references
    the edge frame and needs no checkpoint to outlive its pin."""
    import pyspark.sql.types as T
    comp = local_frame(spark, labels, T.StructType([
        T.StructField("id", id_dt), T.StructField("component", id_dt)]))
    base = comp.select("id")
    if universe is not None:
        base = base.unionByName(universe).distinct()
    return (base.join(F.broadcast(comp), "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    max_iters: int = 50,
) -> DataFrame:
    """Connected components of the undirected near-duplicate pair
    graph — the canonicalization step of fuzzy dedup: every doc in a
    component keeps the component's minimum id as its label, so
    "keep one representative per near-dup cluster" is a filter on
    ``id == component``.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbors' labels, converging in
    O(component diameter) rounds — near-dup clusters are dense and
    shallow, so a handful of rounds closes them. Per round: one
    edge-to-label equi-join + min aggregate (both shuffles on narrow
    (long, long) rows) and a driver-side convergence count. On the
    distributed path the symmetric edge list is persisted for the loop
    and released before returning, and the returned frame is
    materialized so it holds no reference to the pins; the driver fast
    path returns a lazy frame built purely from the driver-side label
    map.

    ``nodes`` (optional, single id column) widens the universe:
    unpaired ids come back as singleton components of themselves.
    Returns (id, component). Hitting ``max_iters`` before convergence
    WARNS and returns the partially-converged labels (no silent cap).

    Scale shape (two regimes, picked by the edge count the loop needs
    anyway): near-dup pair graphs are SPARSE at corpus scale — most
    docs are singletons and only paired docs need label propagation.
    When the raw pair list fits the driver (``_DRIVER_MAX_EDGES``,
    ~1.5 MB of longs), the component labels are solved
    in one union-find pass over the collected pairs (duplicates and
    orientation are irrelevant to union-find, so the r14 fast path
    skips the symmetrize+distinct exchange AND the output checkpoint —
    the label map and endpoint universe live on the driver, so the
    returned plan is independent of the pair frame: two jobs total)
    and broadcast-joined back onto the (arbitrarily large,
    distributed) node universe — zero iterative rounds instead of
    O(log diameter) rounds of ~0.5 s scheduler overhead each. Above
    the threshold the distributed min-label + pointer-jumping loop
    below takes over (the differential tests pin both paths against
    each other).
    """
    S.check_budget("connected_components", "max_iters", max_iters)
    # the RAW pair list gates the regime — not the symmetrized-
    # distinct edge set. The driver fast path needs neither symmetry
    # nor dedup (union-find is idempotent over duplicate and reversed
    # edges), so the distinct+symmetrize exchange happens only on the
    # distributed path. Callers hand in already-materialized pair
    # frames (minhash/exact dedup outputs localCheckpoint eagerly), so
    # the bounded fetch never recomputes a heavy plan.
    raw = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    local = _driver_edges(raw)
    if local is not None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in local:
            ra, rb = find(row["src"]), find(row["dst"])
            if ra != rb:
                # min-id root keeps the min-label contract exactly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        endpoints = {v for row in local for v in (row["src"], row["dst"])}
        # ids may be longs or strings — Python min and F.least order
        # both the same way, so the min-label contract holds for either
        return _driver_label_frame(
            pairs.sparkSession, [(x, find(x)) for x in endpoints],
            raw.schema["src"].dataType,
            None if nodes is None else nodes.toDF("id"))
    sym = raw.select("src", "dst")
    with S.pin(sym.unionByName(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()) as edges:
        # size the loop's parallelism to the graph: the iteration cost on
        # small pair graphs is pure task-scheduling overhead, so a modest
        # graph must not run 32-task rounds; big graphs keep full width.
        # The count also materializes the edge pin for the loop.
        n_edges = edges.count()
        spread = pairs.sparkSession.sparkContext.defaultParallelism
        width = max(1, min(spread, n_edges // 50_000))
        edges = edges.repartition(width, "src")
        base = edges.select(F.col("src").alias("id")).distinct()
        if nodes is not None:
            base = base.unionByName(nodes.toDF("id")).distinct()
        # an eager truncation, not persist: the label frame feeds the
        # next generation TWICE (propagation join + label update), so an
        # un-truncated lineage doubles every round and the analyzer blows
        # up long before the executors do — truncation pins a
        # generation-sized RDD and keeps the plan constant-size
        lab = S.truncate(base.repartition(width, "id")
                         .select("id", F.col("id").alias("component")))

        def step(lab, i, cut):
            # one min-label step + one pointer jump per materialized round
            # (wider rounds measured slower at sf0.1 — the bigger per-job
            # DAG outweighs the saved rounds)
            nbr = (edges
                   .join(lab.select(F.col("id").alias("src"),
                                    F.col("component").alias("_nc")), "src")
                   .groupBy(F.col("dst").alias("id"))
                   .agg(F.min("_nc").alias("_m")))
            # least() ignores NULLs, so unpaired nodes keep their label
            stepped = (lab.join(nbr, "id", "left")
                       .select("id", F.col("component").alias("_old"),
                               F.least("component", "_m").alias("component")))
            # pointer jump: component := label[component]. Labels are
            # always node ids of the same component and only ever
            # decrease, so shortcutting through the label table is safe
            # and turns O(diameter) convergence into O(log diameter) —
            # near-dup chains (doc A ~ B ~ C ~ ...) otherwise cost one
            # full round per link.
            jump = stepped.select(F.col("id").alias("_jid"),
                                  F.col("component").alias("_jc"))
            return cut(stepped.join(jump, stepped.component == jump._jid, "left")
                       .select("id", "_old",
                               F.least("component", "_jc").alias("component")))

        lab = S.supersteps(
            "connected_components", "max_iters", max_iters, lab, step,
            lambda _, new: new.filter(
                F.col("component") != F.col("_old")).count() == 0)
        return S.truncate(lab.select("id", "component"))


def ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for every training document, count
    distinct token n-grams it shares with ANY document of the eval
    corpus (the standard n-gram-collision check run before training).
    Returns (doc_id, n_grams, n_hits) — callers threshold n_hits (or
    the ratio) to drop contaminated docs.

    Grams are md5-prefix hashes of space-joined n-token windows —
    md5 (unlike xxhash64) exists in every SQL engine, so the whole
    check is externally replayable. The eval side reduces to a
    DISTINCT gram set (eval corpora are benchmark-sized — thousands of
    docs — so AQE broadcasts it); the training side streams one
    exploded gram row per token, never collecting anything wider than
    (doc_id, gram)."""

    def gram_stream(df: DataFrame) -> DataFrame:
        # positions-first extraction (see duplicate_spans): exploding
        # an inlined gram ARRAY makes GenerateExec re-evaluate the
        # whole build — with the md5 inside — once per output element,
        # quadratic in the per-doc window count (this operator read
        # 6.4s at sf0.1 before, ~1s after). The exploded child is the
        # cheap int sequence; slice+concat+md5 run once per gram after
        # the explode; per-doc distinct moves to a dropDuplicates
        # (linear shuffle instead of quadratic CPU).
        toked = df.select(
            F.col(id_col).alias("_id"),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_t"))
        t = F.col("_t")
        # guard: sequence(1, 0) counts DOWN in Spark — docs shorter
        # than n tokens must yield an empty position list
        idx = F.when(F.size(t) >= n,
                     F.sequence(F.lit(1), F.size(t) - n + 1)) \
            .otherwise(F.array().cast("array<int>"))
        return (toked.select("_id", "_t", F.explode(idx).alias("_i"))
                .select("_id", F.substring(F.md5(F.concat_ws(
                    " ", F.slice(t, F.col("_i"), F.lit(n)))), 1, 16)
                    .alias("gram"))
                .dropDuplicates(["_id", "gram"]))

    ev = gram_stream(eval_df).select("gram").distinct()
    tr = gram_stream(train)
    n_grams = tr.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    hits = (tr.join(ev, "gram", "left_semi")
            .groupBy("_id").agg(F.count(F.lit(1)).alias("n_hits")))
    base = train.select(F.col(id_col).alias("_id"))
    return (base.join(n_grams, "_id", "left").join(hits, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits")))


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicate-SPAN detection — the distributed
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", whose
    reference tool builds a suffix array): a token n-gram is
    *duplicated* when it occurs in more than one DISTINCT document;
    per document we report how many of its gram positions are
    duplicated and the longest CONSECUTIVE duplicated run converted to
    tokens (run + n - 1) — exactly the span a surgical dedup pass
    would cut instead of dropping the whole document. Within-doc
    repeats alone do not flag (cross-doc scope by design; pair with
    ``text.repetition_stats`` for intra-doc signals).

    Scale shape: positional gram extraction is map-only (one
    posexplode per doc); cross-doc detection is ONE hash aggregate on
    the gram key using min(doc) != max(doc) — no count-distinct, the
    shuffle carries (hash, two ids); the flagged set joins back
    LEFT SEMI on the same gram key; the runs are gaps-and-islands
    windows on the doc key (pos - row_number), one doc-key shuffle
    that the final per-doc aggregate reuses. A suffix array would be
    cheaper on one node; at 1000 executors this is three narrow
    shuffles and no global sort. Returns (id, n_grams, n_dup_grams,
    max_span_tokens), zeros for clean or short docs."""
    from pyspark.sql import Window
    # Positions-first extraction — the Generate-safe shape (measured
    # 20s -> ~1s on 5000 docs): GenerateExec re-evaluates an INLINED
    # child expression once per OUTPUT element, so exploding an array
    # that builds the windows (let alone hashes them) is quadratic in
    # the per-doc window count. Exploding the cheap integer sequence
    # instead keeps the re-evaluated child trivial; the token array
    # rides through the Generate as a regular column (evaluated once
    # per input row) and each slice+concat+md5 happens once per gram,
    # AFTER the explode.
    toked = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_t"))
    t = F.col("_t")
    # sequence(1, 0) counts DOWN in Spark: short docs must yield an
    # empty position list, not junk windows (same guard as
    # ngram_overlap)
    idx = F.when(
        F.size(t) >= n,
        F.sequence(F.lit(1), F.size(t) - n + 1),
    ).otherwise(F.array().cast("array<int>"))
    pos = (toked.select("_id", "_t", F.explode(idx).alias("_i"))
           .select("_id", (F.col("_i") - 1).alias("pos"),
                   F.substring(F.md5(F.concat_ws(
                       " ", F.slice(t, F.col("_i"), F.lit(n)))), 1, 16)
                   .alias("h")))
    dup = (pos.groupBy("h")
           .agg((F.min("_id") != F.max("_id")).alias("_dup"))
           .filter("_dup").select("h"))
    marked = pos.join(dup, "h", "left_semi")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = (marked
            .withColumn("_grp", F.col("pos") - F.row_number().over(w))
            .groupBy("_id", "_grp").agg(F.count(F.lit(1)).alias("_run")))
    per_doc = (runs.groupBy("_id")
               .agg(F.sum("_run").alias("n_dup"),
                    F.max("_run").alias("_maxrun")))
    # n_grams is arithmetic on the token count — never rebuild the
    # window array just to measure it
    base = toked.select(
        "_id", F.greatest(F.size(t) - n + 1, F.lit(0)).cast("long")
        .alias("n_grams"))
    return (base.join(per_doc, "_id", "left")
            .select(F.col("_id").alias(id_col), "n_grams",
                    F.coalesce("n_dup", F.lit(0)).cast("long")
                    .alias("n_dup_grams"),
                    F.coalesce(F.col("_maxrun") + F.lit(n - 1), F.lit(0))
                    .cast("long").alias("max_span_tokens")))
