"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. The query set is
  collected once; each Arrow batch of the corpus is scored by BLAS
  matmuls against fixed-size query blocks and keeps an exact partial
  top-k, and one window merges the batches;
- IVF and LSH ANN: centroid lists or random-hyperplane buckets shrink
  the candidate set, and a bucket join replaces the cross product
  before the exact cosine re-rank — the 100 TB path.

Hyperplanes are generated from a fixed seed so results are
deterministic run-to-run and cluster-layout-independent.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agensgraph_spark.operators._superstep import check_budget, supersteps
from agensgraph_spark.pipeline.util import maybe_broadcast
from agensgraph_spark.session import local_frame

log = logging.getLogger(__name__)


def matrix_lit(rows: "list[list[float]]") -> Column:
    """Nested array<array<double>> literal in ONE JVM call. ``F.lit``
    on a nested Python list crosses py4j once PER ELEMENT (a 16x64
    centroid matrix = ~2,100 round trips = ~2s of pure DRIVER time per
    query construction, measured via cProfile — the same disease
    `dedup._str_hash_sql` documents for wide projections). Rendering
    the matrix as SQL text and parsing it JVM-side makes it a single
    call. Exactness: Python's repr of a float is the shortest string
    that round-trips to the same double, and Spark's literal parser
    reads the 'D'-suffixed form back to exactly that double, so the
    resulting literal is bit-identical to the F.lit element path."""
    txt = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")"
        for r in rows)
    return F.expr(f"array({txt})")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


# Query columns per BLAS matmul in `brute_cosine_topk`: bounds each
# Arrow batch's score matrix at batch_rows x _QUERY_BLOCK doubles
# whatever the query count.
_QUERY_BLOCK = 256


def brute_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector. Excludes self-pairs; ties
    break by neighbor id for determinism.

    The query set is a bounded serving batch by contract: its (id,
    vector) rows are collected once, the only Spark job this call
    launches. Each Arrow batch of the corpus is then scored with one
    BLAS matmul per block of ``_QUERY_BLOCK`` queries and keeps an
    exact in-batch partial top-k under the (cos DESC, id ASC) order;
    the global window merges the batches with that same order, so the
    result is exactly the global top-k whatever the batch or block
    boundaries. An empty query set returns an empty frame with the
    usual schema. Degenerate inputs refuse loudly like every Arrow
    vector path here: NULL ids, NULL/ragged embeddings (`_list_mat`)
    and zero-norm vectors (0/0 cosine) raise instead of silently
    producing NULL neighbours or NaN ranks."""
    import pyarrow as pa
    import pyspark.sql.types as T

    qsel = queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).cast("array<double>"))
    base = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).cast("array<double>").alias("_v"))
    out_schema = T.StructType([
        T.StructField("query_id", qsel.schema["query_id"].dataType),
        T.StructField("neighbor_id", base.schema["neighbor_id"].dataType),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    qrows = qsel.collect()
    if not qrows:
        return _rank_topk(local_frame(corpus.sparkSession, [], out_schema), k)
    q_ids = [r[0] for r in qrows]
    if any(i is None for i in q_ids):
        raise ValueError("brute_cosine_topk: NULL query id")
    vecs = [r[1] for r in qrows]
    if any(v is None for v in vecs) or len({len(v) for v in vecs}) != 1:
        raise ValueError("brute_cosine_topk: ragged/NULL query vectors")
    Q = np.asarray(vecs, dtype=np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    if (qn == 0).any():
        raise ValueError("brute_cosine_topk: zero-norm query vector")
    dim = Q.shape[1]
    # (first query index, dim x block transposed queries, block norms)
    blocks = [(j0, Q[j0:j0 + _QUERY_BLOCK].T.copy(),
               qn[j0:j0 + _QUERY_BLOCK])
              for j0 in range(0, len(q_ids), _QUERY_BLOCK)]

    def score(batches):
        qi = np.asarray(q_ids)
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0)
            if ids.null_count:
                raise ValueError("brute_cosine_topk: NULL corpus id")
            V = _list_mat(b.column(1), dim, "brute_cosine_topk")
            cn = np.sqrt(np.einsum("ij,ij->i", V, V))
            if (cn == 0).any():
                raise ValueError(
                    "brute_cosine_topk: zero-norm corpus vector")
            nid = ids.to_numpy(zero_copy_only=False)
            out_q, out_n, out_s = [], [], []
            for j0, QT, bn in blocks:
                S = (V @ QT) / np.outer(cn, bn)  # (rows, block)
                for j in range(S.shape[1]):
                    col = S[:, j]
                    sel = np.flatnonzero(nid != qi[j0 + j])  # no self-pairs
                    if sel.size == 0:
                        continue
                    # exact (cos DESC, id ASC): stable lexsort, primary
                    # key last
                    order = sel[np.lexsort((nid[sel], -col[sel]))][:k]
                    out_q.extend([q_ids[j0 + j]] * len(order))
                    out_n.append(order)
                    out_s.append(col[order])
            if not out_q:
                continue
            take = np.concatenate(out_n)
            yield pa.record_batch([
                pa.array(out_q),
                ids.take(pa.array(take)),
                pa.array(np.concatenate(out_s), type=pa.float64()),
            ], names=["query_id", "neighbor_id", "cos_sim"])

    return _rank_topk(base.mapInArrow(score, out_schema), k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global (cos DESC, neighbor ASC) top-k + display rounding — the
    shared tail of the brute, IVF and LSH top-k searches."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round(F.col("cos_sim"), 6).alias("cos_sim"),
                    F.col("rank").cast("long").alias("rank")))


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_id: int | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim ≥
    threshold). Exact over a bounded id range (the verification shape);
    at corpus scale, feed LSH-bucketed candidates (``lsh_cosine_topk``
    machinery) instead of the bounded self-join.

    No driver-side probes: the broadcast decision uses the caller's
    ``n_rows``/``dim`` when given, else the ``max_id`` bound (ids are
    non-negative and unique, so the filtered side holds at most
    ``max_id`` rows) with a conservative 1024-dim estimate. With no
    bound at all the hint is omitted and AQE picks the strategy from
    runtime statistics — an extra Spark job per call is never worth a
    hint AQE would choose anyway."""
    base = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
    if max_id is not None:
        base = base.filter(F.col("_id") < max_id)
        if n_rows is None:
            n_rows = max_id
    # compute each row's norm ONCE, before the O(n²) join, and carry it
    # as a scalar column: per-pair work is then one dot + a divide
    # instead of dot + two array-norm traversals — higher-order array
    # expressions are interpreted (no codegen), so tripling the element
    # traffic inside the pair loop costs ~3x on the whole op. Same
    # expression values as cosine(va, vb): dot/(norm(a)*norm(b)).
    withn = base.select("_id", "_v", norm(F.col("_v")).alias("_n"))
    a = withn.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"),
                     F.col("_n").alias("na"))
    b = withn.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
                     F.col("_n").alias("nb"))
    if n_rows is not None:
        b = maybe_broadcast(b, (dim or 1024) * 8 + 32, n_rows=n_rows)
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (pairs.select("id_a", "id_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign bits packed into ONE long (n_planes <= 52,
    guarded below — pow-based packing is exact only while 2^j fits a
    double's mantissa). The plane matrix is ONE
    nested-array literal — building it per-element (n_planes × dim
    Literal nodes) makes Catalyst analysis and whole-stage codegen the
    dominant cost, megabytes of generated code for a cheap kernel."""
    if len(planes) > 52:
        # pow-based bit packing is exact only while 2^j fits a double's
        # mantissa (j <= 52), and the single-long signature caps at 64
        # planes regardless — a silent wrong signature is worse than a
        # refusal (split into multiple <=52-bit words upstream if more
        # planes are ever needed)
        raise ValueError(
            f"lsh_signature: n_planes={len(planes)} exceeds the 52-plane "
            "single-long packing limit (2^j double exactness)")
    pm = matrix_lit(planes)
    dots = F.transform(pm, lambda p: dot(vec, p))
    idx = F.sequence(F.lit(0), F.lit(len(planes) - 1))
    # 2^j via pow (shiftleft needs a literal shift amount); exact for
    # j <= 52 in double arithmetic, enforced by the guard above
    bits = F.zip_with(dots, idx,
                      lambda d, j: (d > 0).cast("long") * F.pow(F.lit(2.0), j).cast("long"))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def unit_normalized(cents: "list[list[float]]") -> "list[list[float]]":
    """Row-normalize a centroid matrix to unit vectors (zero rows pass
    through unchanged). The dot-product quantizers in this module
    (``semantic_dedup``, ``ivf_cosine_topk``) assume unit centroids —
    trained centroids from ``train_ivf_centroids`` are per-cluster
    MEANS, so normalize them before use. Per-row argmax is unchanged
    relative to cosine against the raw means (dividing by the row norm
    is a per-row constant), which is what external oracles replay."""
    a = np.asarray(cents, dtype=float)
    n = np.linalg.norm(a, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return [[float(x) for x in c] for c in (a / n)]


def _resolve_cents(
    corpus: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    dim: int | None,
    cents: "list[list[float]] | None",
) -> np.ndarray:
    """Caller-supplied (trained) centroids, else seeded random unit
    directions — the shared quantizer-default of ivf_cosine_topk /
    semantic_dedup / ivf_pq_topk."""
    if cents is not None:
        return np.asarray(cents, dtype=float)
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    cm = rng.standard_normal((n_lists, dim))
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)
    return cm


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    dim: int | None = None,
    cents: "list[list[float]] | None" = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the corpus into
    ``n_lists`` inverted lists (nearest-centroid assignment); each query
    scans only its ``n_probe`` closest lists, then exact cosine re-ranks.

    Centroids are random unit directions from a fixed seed — a real
    deployment would k-means them, but assignment/probing mechanics
    (the part that must scale) are identical: one narrow pass to tag
    the corpus (the tag is persistable with the snapshot, so at 100 TB
    assignment is written once, not recomputed per query), a bucket
    join in place of the cross product.

    ``dim`` should be passed by callers that know the embedding width
    (it is a dataset constant) — the ``first()`` fallback costs one
    driver-side Spark job per call. NULL, ragged and zero-norm
    embeddings raise ``ValueError``."""
    cm = _resolve_cents(corpus, vec_col, n_lists, seed, dim, cents)
    c_tag = _centroid_tag_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("cv")),
        cm, "cv", "cn", 1, "ivf_cosine_topk")
    q_tag = _centroid_tag_arrow(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv")),
        cm, "qv", "qn", n_probe, "ivf_cosine_topk")

    cand = c_tag.join(F.broadcast(q_tag), "_list") \
                .filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"))
    return _rank_topk(scored, k)


def _list_mat(col, dim: int, op: str) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list<double> column —
    one flatten + reshape over the contiguous values buffer, no
    per-row Python. Nulls and ragged rows refuse loudly (the cosine
    math would silently misalign every following row); ``op`` names
    the public operator in the message."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if arr.null_count:
        raise ValueError(f"{op}: NULL embedding in corpus")
    flat_arr = arr.flatten()
    if flat_arr.null_count:
        # a null ELEMENT inside an embedding passes the top-level null
        # check and the length check, then silently becomes NaN in the
        # matmul — refuse it as loudly as a null row
        raise ValueError(f"{op}: NULL element inside an embedding vector")
    flat = flat_arr.to_numpy(zero_copy_only=False)
    n = len(arr)
    if flat.shape[0] != n * dim:
        raise ValueError(
            f"{op}: ragged embeddings (got {flat.shape[0]} "
            f"values for {n} rows of dim {dim})")
    return flat.reshape(n, dim)


def _centroid_tag_arrow(
    base: DataFrame,
    cm: np.ndarray,
    vec_name: str,
    norm_name: str,
    topn: int,
    op: str,
) -> DataFrame:
    """The nearest-centroid tagger behind every quantizer here
    (``ivf_cosine_topk``, ``ivf_pq_topk``, ``semantic_dedup``,
    ``semdedup_skew_stats``, ``kmeans_update``): ``base`` with every
    column passed through, plus ``norm_name`` (the L2 norm of the
    array<double> column ``vec_name``) and ``_list``, the centroid of
    highest dot product — score DESC, then index DESC on ties, the
    order the SQL oracles replay with ROW_NUMBER. ``topn`` > 1 emits
    one row per probed list in that order (the query-side explode).

    One Arrow pass: a numpy matmul against the centroid matrix, which
    ships in the task closure and never rides the plan as a literal.
    Dividing by the row norm cannot change a per-row arg-top, so the
    score is the raw dot. NULL, ragged and zero-norm vectors raise
    ``ValueError`` prefixed with ``op``: a zero vector has no cosine,
    and every caller scores cosine downstream."""
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    dim = cm.shape[1]
    n_lists = len(cm)
    topn = min(topn, n_lists)
    cmT = np.ascontiguousarray(cm.T)
    vi = base.columns.index(vec_name)
    names = base.columns + [norm_name, "_list"]
    schema = StructType(base.schema.fields + [
        StructField(norm_name, DoubleType()),
        StructField("_list", IntegerType()),
    ])

    def go(it):
        for b in it:
            V = _list_mat(b.column(vi), dim, op)
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            if not nrm.all():
                raise ValueError(
                    f"{op}: zero-norm embedding — cosine is undefined "
                    "(0/0); drop or repair degenerate vectors upstream")
            # stable sort over the REVERSED columns: equal scores keep
            # the lower reversed index = the higher original one
            order = np.argsort(-(V @ cmT)[:, ::-1], axis=1,
                               kind="stable")[:, :topn]
            tags = (n_lists - 1 - order).reshape(-1).astype(np.int32)
            cols = b.columns
            if topn > 1:
                idx = pa.array(np.repeat(np.arange(b.num_rows), topn),
                               pa.int64())
                cols = [c.take(idx) for c in cols]
                nrm = np.repeat(nrm, topn)
            yield pa.record_batch(
                cols + [pa.array(nrm, pa.float64()),
                        pa.array(tags, pa.int32())], names=names)

    return base.mapInArrow(go, schema)


def _semantic_dedup_arrow(
    tagged: DataFrame,
    dim: int,
    max_cluster: int,
) -> DataFrame:
    """Capped-mode scoring engine for ``semantic_dedup``: the
    within-cluster max-lower-cosine over the tagger's (_id, _v, _n,
    _list) frame as one Arrow stage, with the quadratic inner product
    handed to numpy/BLAS per batch. Plan shape: Scan ->
    MapInArrow(tag) -> ONE Exchange(cluster) -> Sort(cluster, id) ->
    MapInArrow(stream-score) — no self-join, no window, no broadcast,
    and the per-task state is bounded at max_cluster x dim doubles per
    active cluster (the head buffer), initialised once per task and
    carried across batches. Emits (_id, cluster int, _mlc double, _rnb
    long) with _mlc NULL for rank-1 rows."""
    import pyarrow as pa

    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    cap = int(max_cluster)
    out_schema = StructType([
        StructField("_id", tagged.schema["_id"].dataType),
        StructField("cluster", IntegerType()),
        StructField("_mlc", DoubleType()),
        StructField("_rnb", LongType()),
    ])

    def score_batches(it):
        # streaming per-cluster state (input sorted by cluster, id):
        # head = the cap LOWEST-id vectors of the current cluster —
        # exactly the b-side of the ranked JVM join, so a row at
        # global rank r compares against head rows ranked
        # <= min(r-1, cap) and nothing else
        cur: int | None = None
        headM = np.empty((0, dim))
        headN = np.empty((0,))
        cnt = 0
        for b in it:
            lists = b.column(3).to_numpy(zero_copy_only=False)
            V = _list_mat(b.column(1), dim, "semantic_dedup")
            rn = b.column(2).to_numpy(zero_copy_only=False)
            m = len(lists)
            mlc = np.full(m, np.nan)
            rnb = np.empty(m, dtype=np.int64)
            idx = 0
            while idx < m:
                lv = int(lists[idx])
                end = idx + 1
                while end < m and lists[end] == lv:
                    end += 1
                if lv != cur:
                    cur, cnt = lv, 0
                    headM, headN = np.empty((0, dim)), np.empty((0,))
                seg = end - idx
                R, Rn = V[idx:end], rn[idx:end]
                need = max(0, min(cap - cnt, seg))
                H = np.vstack([headM, R[:need]]) if need else headM
                Hn = np.concatenate([headN, Rn[:need]]) if need else headN
                if len(H):
                    C = (H @ R.T) / (Hn[:, None] * Rn[None, :])
                    ii = np.arange(len(H))[:, None]
                    jj = np.arange(seg)[None, :]
                    C = np.where(ii < (cnt + jj), C, -np.inf)
                    best = C.max(axis=0)
                    has = np.minimum(cnt + np.arange(seg), len(H)) > 0
                    mlc[idx:end] = np.where(has, best, np.nan)
                rnb[idx:end] = cnt + 1 + np.arange(seg)
                headM, headN, cnt = H, Hn, cnt + seg
                idx = end
            yield pa.record_batch(
                [b.column(0), b.column(3),
                 pa.array(mlc, pa.float64(), from_pandas=True),
                 pa.array(rnb, pa.int64())],
                names=["_id", "cluster", "_mlc", "_rnb"])

    part = (tagged.repartition("_list")
            .sortWithinPartitions("_list", "_id"))
    return part.mapInArrow(score_batches, out_schema)


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    dim: int | None = None,
    cents: "list[list[float]] | None" = None,
    max_cluster: "int | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    coarse-cluster every vector to its nearest centroid (the same
    seeded-unit-direction quantizer as ``ivf_cosine_topk``; pass
    ``cents`` for trained centroids — ``unit_normalized(
    train_ivf_centroids(...))`` is the production path, since the
    seeded random directions give unbalanced clusters on real
    non-isotropic embeddings), then WITHIN each cluster drop any
    item whose cosine to some lower-id cluster-mate reaches ``tau`` —
    the deterministic keep-lowest-id variant of the SemDeDup rule.

    Returns (vec_id, cluster, max_lower_cos, keep, capped): ``keep``
    marks the cluster-canonical survivors; ``max_lower_cos`` is NULL
    for the lowest id of its cluster; ``capped`` is True exactly for
    the rows whose ``max_lower_cos`` is only a LOWER bound under the
    ``max_cluster`` skew cap (rank > max_cluster + 1 within the
    cluster — a rank cap+1 row still sees all its lower-id mates) so
    downstream keep/drop pipelines can route them to a verify stage.

    Scale shape: one narrow Arrow tag pass (``_centroid_tag_arrow``,
    the tagger every quantizer here shares; persistable with the
    snapshot), then scoring confined within clusters — exact mode is a
    cluster-keyed JVM self-join, capped mode one cluster exchange and
    a streaming numpy scorer. Expected list size is corpus/n_lists, so
    raise ``n_lists`` with corpus size to keep the quadratic term
    bounded; the corpus never crosses clusters and is never broadcast.
    NULL, ragged and zero-norm embeddings raise ``ValueError``.

    ``max_cluster`` is the skew guard (mirroring minhash's
    ``max_bucket``): the within-cluster term is quadratic, so ONE hot
    cluster — likely with the untrained default quantizer — silently
    degrades toward all-pairs. The default is None — exact semantics;
    callers OPT IN to the cap (production at corpus scale should pass
    one: the registry row passes 10_000 explicitly) rather than
    discovering that a >cap cluster silently changed results.
    With the cap, each row compares only
    against the ``max_cluster`` LOWEST-id members of its cluster,
    bounding the join at size x cap (linear in the hot cluster)
    instead of size². Rows inside the head keep exact semantics (all
    their lower-id mates are in the head); overflow rows get a lower
    bound of max_lower_cos — near-dup mass concentrates on the
    canonical low-id survivors, so the keep rule degrades gracefully.
    The cap is never silent: it is announced in the log at build
    time, the per-row ``capped`` flag marks its lower-bound rows, and
    ``semdedup_skew_stats()`` is the deterministic audit."""
    cm = _resolve_cents(corpus, vec_col, n_lists, seed, dim, cents)
    tagged = _centroid_tag_arrow(
        corpus.select(F.col(id_col).alias("_id"),
                      F.col(vec_col).cast("array<double>").alias("_v")),
        cm, "_v", "_n", 1, "semantic_dedup")
    if max_cluster is not None:
        # the capped scorer holds at most max_cluster x dim doubles per
        # Python worker; the EXACT (max_cluster=None) path below stays
        # on the distributed JVM self-join, which handles an unbounded
        # hot cluster by spilling across tasks instead
        scored = _semantic_dedup_arrow(tagged, cm.shape[1], max_cluster)
        log.info(
            "semantic_dedup: skew cap max_cluster=%d active — "
            "overflow rows of a hot cluster compare only against "
            "the cluster head; run semdedup_skew_stats() to count "
            "them", max_cluster)
        # keep compares the UNROUNDED max (same as the JVM path, whose
        # filter also ran on the raw aggregate before rounding)
        return scored.select(
            F.col("_id").alias("vec_id"),
            F.col("cluster").cast("long").alias("cluster"),
            F.round("_mlc", 6).alias("max_lower_cos"),
            F.coalesce(F.col("_mlc") < tau, F.lit(True)).alias("keep"),
            (F.col("_rnb") > max_cluster + 1).alias("capped"))

    # exact: a cluster-keyed self-join that pairs each row with itself
    # too, so every row survives it; both sides read one (reused)
    # cluster exchange, so the corpus is scanned and tagged once
    tagged = tagged.repartition("_list")
    a = tagged.select(F.col("_id").alias("vec_id"), F.col("_v").alias("va"),
                      F.col("_n").alias("na"), F.col("_list").alias("cluster"))
    b = tagged.select(F.col("_id").alias("_ib"), F.col("_v").alias("vb"),
                      F.col("_n").alias("nb"), F.col("_list").alias("cluster"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    lower = (a.join(b, "cluster").filter(F.col("_ib") <= F.col("vec_id"))
              .groupBy("vec_id", "cluster")
              .agg(F.max(F.when(F.col("_ib") < F.col("vec_id"), cos))
                   .alias("max_lower_cos")))
    return lower.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"),
        F.round("max_lower_cos", 6).alias("max_lower_cos"),
        F.coalesce(F.col("max_lower_cos") < tau, F.lit(True)).alias("keep"),
        F.lit(False).alias("capped"))


def semdedup_skew_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    dim: int | None = None,
    cents: "list[list[float]] | None" = None,
    max_cluster: int = 10_000,
) -> DataFrame:
    """Deterministic audit for semantic_dedup's cluster-skew cap
    (mirror of dedup.lsh_skew_stats): the cluster-size distribution
    the SAME quantizer parameters would induce, and how many clusters
    overflow ``max_cluster``. One aggregate job over the tag pass —
    run it before committing to a quantizer on a new corpus; a large
    ``max_cluster_size``/``sum_sq_sizes`` with the seeded default says
    train centroids (``train_ivf_centroids`` + ``unit_normalized``)
    or raise ``n_lists``. ``sum_sq_sizes`` is the uncapped pair-join
    row count — the actual quadratic cost driver. The tag is
    semantic_dedup's, so NULL, ragged and zero-norm embeddings raise
    ``ValueError`` here too; ``id_col`` is unused (rows are counted,
    not named) and kept so the keywords match semantic_dedup."""
    cm = _resolve_cents(corpus, vec_col, n_lists, seed, dim, cents)
    tagged = _centroid_tag_arrow(
        corpus.select(F.col(vec_col).cast("array<double>").alias("_v")),
        cm, "_v", "_n", 1, "semdedup_skew_stats")
    sizes = tagged.groupBy("_list").agg(F.count(F.lit(1)).alias("_n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("_n") >= 2).cast("long")).alias("n_pairable"),
        F.sum((F.col("_n") > max_cluster).cast("long")).alias("n_over_cap"),
        F.max("_n").alias("max_cluster_size"),
        F.sum(F.col("_n") * F.col("_n")).alias("sum_sq_sizes"),
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing a full signature in
    any of ``n_tables`` hyperplane tables, then exact cosine re-rank.
    The bucket join replaces the cross product — candidate count is
    |bucket| not |corpus|."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("cv")) \
              .select("neighbor_id", "cv", norm(F.col("cv")).alias("cn"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv")) \
               .select("query_id", "qv", norm(F.col("qv")).alias("qn"))

    # all tables' signatures in ONE pass: (table, sig) via posexplode,
    # single equi-join on the pair — n_tables separate join branches
    # would multiply both the shuffle count and the (large) codegen of
    # the signature expressions by n_tables
    def all_sigs(vec: Column) -> Column:
        return F.array(*[
            lsh_signature(vec, _hyperplanes(dim, n_planes, seed=42 + t))
            for t in range(n_tables)])

    cb = c.select("neighbor_id", F.posexplode(all_sigs(F.col("cv"))).alias("_t", "sig"))
    qb = q.select("query_id", F.posexplode(all_sigs(F.col("qv"))).alias("_t", "sig"))
    cand = (cb.join(F.broadcast(qb), ["_t", "sig"])
            .select("query_id", "neighbor_id")
            .distinct().filter(F.col("query_id") != F.col("neighbor_id")))

    scored = (cand.join(q, "query_id").join(c, "neighbor_id")
              .select("query_id", "neighbor_id",
                      (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim")))
    return _rank_topk(scored, k)


def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    format large training pipelines keep embeddings in (4x smaller,
    SIMD-friendly). scale = max(|x|)/127; q_i = floor(x_i * 127 /
    max|x|). floor, not round: floor over doubles is engine-exact,
    while SQL engines disagree on round-half behavior — the q/scale
    pair must reproduce bit-identically everywhere the corpus is read.
    Map-only column expressions; zero vectors quantize to zeros with
    scale 0."""
    v = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    q = F.when(amax > 0,
               F.transform(v, lambda x: F.floor(x * F.lit(127.0) / amax)
                           .cast("int"))) \
         .otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        (amax / F.lit(127.0)).alias("scale"),
        q.alias("q"),
    )


def neighbor_mean_embeddings(
    pairs: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
    rounds: int = 1,
) -> DataFrame:
    """``rounds`` rounds of GNN-style feature propagation: each vertex's
    embedding becomes the element-wise mean over its (undirected)
    neighborhood — the smoothing/centroid step graph-ML pipelines and
    cluster-representative selection both use.

    Shape: posexplode to (id, pos, val) rows, one (id, pos) mean
    aggregate, re-assemble ordered arrays — the shuffle carries
    |edges| x dim scalar rows (linear; the standard distributed
    feature-propagation layout; blocked matmuls only win once the
    adjacency is cached dense). Unpaired vertices keep their own
    embedding when ``include_self``, else drop out. Returns
    (id, embedding array<double>)."""
    check_budget("neighbor_mean_embeddings", "rounds", rounds)
    sym = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")) \
               .unionByName(pairs.select(F.col("id_b").alias("s"),
                                         F.col("id_a").alias("d")))
    if include_self:
        ids = emb.select(F.col(id_col).alias("s"))
        sym = sym.unionByName(ids.select("s", F.col("s").alias("d")))

    def step(cur, i, cut):
        flat = (sym.join(cur, "d")
                .select("s", F.posexplode("_v").alias("pos", "val")))
        agg = flat.groupBy("s", "pos").agg(F.avg("val").alias("m"))
        return cut(agg.groupBy("s")
                   .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                        .alias("_pm"))
                   .select(F.col("s").alias("d"), F.col("_pm.m").alias("_v")))

    cur = supersteps("neighbor_mean_embeddings", "rounds", rounds,
                     emb.select(F.col(id_col).alias("d"),
                                F.col(vec_col).cast("array<double>")
                                .alias("_v")), step)
    return cur.select(F.col("d").alias(id_col), F.col("_v").alias("embedding"))


def kmeans_update(
    emb: DataFrame,
    cents: "list[list[float]]",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration over a fixed centroid matrix: cosine-argmax
    assignment (same tie rule as ivf_cosine_topk — score desc, index
    desc), then per-cluster element-wise mean. Returns (list_id,
    n_assigned, centroid array<double>) — feed the centroids back in to
    iterate; every step is a deterministic closed form an external SQL
    oracle can replay. Assignment is the shared map-only Arrow tag pass
    against the unit-normalized centroids: the dot-argmax there is the
    cosine argmax, since ``|v|`` is a per-row constant. A zero-norm
    centroid (no cosine) and NULL, ragged or zero-norm embeddings raise
    ``ValueError``. The update shuffles (cluster, pos, val) scalar rows
    — linear in corpus x dim, the standard distributed k-means
    layout."""
    cm = np.asarray(cents, dtype=float)
    cn = np.linalg.norm(cm, axis=1, keepdims=True)
    if not cn.all():
        raise ValueError("kmeans_update: zero-norm centroid — cosine "
                         "assignment is undefined (0/0)")
    tagged = _centroid_tag_arrow(
        emb.select(F.col(vec_col).cast("array<double>").alias("_v")),
        cm / cn, "_v", "_n", 1, "kmeans_update")
    flat = tagged.select(F.col("_list").alias("list_id"),
                         F.posexplode("_v").alias("pos", "val"))
    agg = flat.groupBy("list_id", "pos").agg(
        F.avg("val").alias("m"), F.count(F.lit(1)).alias("n"))
    return (agg.groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"),
                 F.first("n").alias("n_assigned"))
            .select("list_id", F.col("n_assigned").cast("long").alias("n_assigned"),
                    F.col("_pm.m").alias("centroid")))


def train_ivf_centroids(
    emb: DataFrame,
    n_lists: int = 16,
    rounds: int = 3,
    seed: int = 42,
    dim: int | None = None,
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """A few Lloyd rounds from seeded unit directions — the centroid
    matrix ``ivf_cosine_topk(cents=...)`` consumes. Only the
    n_lists x dim centroid matrix ever reaches the driver (collecting
    it is the point: it becomes a broadcast literal); each round is one
    distributed kmeans_update pass. Empty clusters keep their previous
    centroid, so the list count is stable round to round."""
    cents = [[float(x) for x in c]
             for c in _resolve_cents(emb, vec_col, n_lists, seed, dim, None)]
    for _ in range(rounds):
        got = {r["list_id"]: list(r["centroid"])
               for r in kmeans_update(emb, cents, vec_col).collect()}
        cents = [got.get(i, cents[i]) for i in range(n_lists)]
    return cents


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compressed ANN path: a d-dim
# float vector becomes m small codes (here m bytes), and search scores
# a candidate with m table lookups instead of a d-dim dot product.
# At 100 TB this is what makes the corpus fit serving memory (32x
# smaller at m=4, d=32, float32) and the scan bandwidth-bound instead
# of FLOP-bound; compose with the IVF router (ivf_cosine_topk's list
# tagging) so each query scans only its probed lists' codes.

def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[list[float]]]":
    """Deterministic PQ codebooks: the ``k`` lowest-id corpus vectors
    donate their subvectors, so an external SQL engine can re-derive
    the books and replay encode+search bit-exactly (the gate oracle
    does). Production would Lloyd-iterate each subspace (kmeans_update
    per subspace slice) — the encode/search mechanics, which are the
    part that must scale, are identical. Returns books[s][j] =
    subvector j of subspace s."""
    rows = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in rows]
    if not vecs or len(vecs[0]) % m != 0:
        raise ValueError(f"embedding dim must be divisible by m={m}")
    d = len(vecs[0]) // m
    return [[v[s * d:(s + 1) * d] for v in vecs] for s in range(m)]


def _sq_l2(a: Column, b) -> Column:
    """Squared L2 distance, accumulated in fixed element order so every
    engine reproduces it bit-for-bit ((a-b)*(a-b), not pow)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def pq_encode(
    df: DataFrame,
    books: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each subvector its nearest codebook entry (squared-L2,
    ties to the lowest code — struct array_min compares (dist, idx)
    lexicographically). Map-only column expressions over a codebook
    literal; the output (id, c0..c{m-1}) is the persistable compressed
    corpus — at scale it is written next to the snapshot once, not
    recomputed per query."""
    m = len(books)
    d = len(books[0][0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = [F.col(id_col)]
    for s in range(m):
        sub = F.slice(v, s * d + 1, d)
        bs = matrix_lit(books[s])
        dists = F.transform(bs, lambda c: _sq_l2(sub, c))
        idx = F.sequence(F.lit(0), F.lit(len(books[s]) - 1))
        best = F.array_min(F.zip_with(
            dists, idx, lambda dd, i: F.struct(dd.alias("d"), i.alias("i"))))
        cols.append(best.getField("i").alias(f"c{s}"))
    return df.select(*cols)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: "list[list[list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: the corpus is scanned as
    codes; each query carries per-subspace lookup tables (distance of
    its subvector to every codebook entry), so a candidate's score is
    ``m`` array lookups — no d-dim arithmetic in the scan. The scan is
    a broadcast of the (tiny) query+LUT side over the code table; at
    100 TB route through IVF lists first so each query touches only
    its probed lists' codes. Returns (query_id, neighbor_id, approx
    squared L2 ``score``, rank) — ascending score, deterministic
    neighbor-id tiebreak."""
    m = len(books)
    d = len(books[0][0])
    enc = pq_encode(corpus, books, id_col, vec_col)
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lut_cols = []
    for s in range(m):
        sub = F.slice(qv, s * d + 1, d)
        bs = matrix_lit(books[s])
        lut_cols.append(F.transform(bs, lambda c: _sq_l2(sub, c)).alias(f"lut{s}"))
    q = queries.select(F.col(id_col).alias("query_id"), *lut_cols)
    score = None
    for s in range(m):
        term = F.element_at(F.col(f"lut{s}"), F.col(f"c{s}") + 1)
        score = term if score is None else score + term
    cand = (enc.withColumnRenamed(id_col, "neighbor_id")
            .crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", score.alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round(F.col("score"), 6).alias("score"),
                    F.col("rank").cast("long").alias("rank")))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: "list[list[list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    dim: int | None = None,
    cents: "list[list[float]] | None" = None,
) -> DataFrame:
    """The composed 100-TB serving path: IVF routing x PQ codes. The
    coarse quantizer tags each corpus vector with one inverted list
    and each query with its ``n_probe`` closest lists — the same
    tagger, seeded centroids and DESC/idx-DESC tie order as
    ivf_cosine_topk, so the two stay oracle-interchangeable — and each
    query ADC-scores ONLY its probed lists' PQ codes: m LUT lookups
    per candidate, never a d-dim product, and the scan volume is
    n_probe/n_lists of the corpus. Both the list tag and the codes are
    persistable with the snapshot: at scale the per-query cost is
    independent of corpus width. NULL, ragged and zero-norm embeddings
    raise ``ValueError``. Returns (query_id, neighbor_id, score asc,
    rank)."""
    cm = _resolve_cents(corpus, vec_col, n_lists, seed, dim, cents)
    m = len(books)
    d = len(books[0][0])
    enc = (pq_encode(corpus, books, id_col, vec_col)
           .withColumnRenamed(id_col, "neighbor_id"))
    c_tag = _centroid_tag_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("_v")),
        cm, "_v", "_n", 1, "ivf_pq_topk")
    coded = enc.join(c_tag.select("neighbor_id", "_list"), "neighbor_id")

    q_tag = _centroid_tag_arrow(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_v")),
        cm, "_v", "_n", n_probe, "ivf_pq_topk")
    lut_cols = []
    for s in range(m):
        sub = F.slice(F.col("_v"), s * d + 1, d)
        bs = matrix_lit(books[s])
        lut_cols.append(F.transform(bs, lambda c: _sq_l2(sub, c)).alias(f"lut{s}"))
    q = q_tag.select("query_id", "_list", *lut_cols)

    score = None
    for s in range(m):
        term = F.element_at(F.col(f"lut{s}"), F.col(f"c{s}") + 1)
        score = term if score is None else score + term
    cand = (coded.join(F.broadcast(q), "_list")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", score.alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round(F.col("score"), 6).alias("score"),
                    F.col("rank").cast("long").alias("rank")))
