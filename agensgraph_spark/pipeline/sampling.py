"""Deterministic sampling for training-data mixes.

Hash-systematic sampling: a row is kept when a fixed-width hex prefix
of md5(key) falls below the stratum's threshold. Unlike
``DataFrame.sample``/``sampleBy`` (partition-layout-dependent even
with a seed), the decision is a pure function of the row's key — the
sample is reproducible across engines, partitionings, and re-runs,
which is what a dataset card for a 100-TB training mix needs. Map-only:
no shuffle, no state, trivially scales.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_W = 4          # 4 hex chars => rate granularity 1/65536
_HEX_SPACE = 16 ** _HEX_W


def rate_threshold(rate: float) -> str:
    """Lowercase fixed-width hex threshold for a keep-rate in [0, 1];
    lexicographic comparison on fixed-width lowercase hex equals the
    numeric comparison, so the same literal works in any SQL engine."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = int(rate * _HEX_SPACE)
    if n >= _HEX_SPACE:
        return "g"  # sorts after every hex digit: keep everything
    return format(n, f"0{_HEX_W}x")


def keyed_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Keep ~rate of rows, decided by md5(key) prefix."""
    return df.filter(_prefix(key_col) < F.lit(rate_threshold(rate)))


def mix_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the 'data mixing' step of
    a training pipeline (e.g. keep 100% of wiki, 10% of crawl).
    Strata absent from ``rates`` get ``default_rate``."""
    thr: Column = F.lit(rate_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value,
                     F.lit(rate_threshold(rate))).otherwise(thr)
    return df.filter(_prefix(key_col) < thr)


def _prefix(key_col: str) -> Column:
    return F.substring(F.md5(F.col(key_col).cast("string")), 1, _HEX_W)


def epoch_shuffle(
    df: DataFrame,
    seed: str,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffle for training loaders: every row gets
    a (shard, pos) address that is a pure function of (seed, id) — the
    same epoch order on every run, engine, and partitioning, which is
    what a reproducible training job (and its dataset card) needs.
    A new ``seed`` per epoch gives an independent permutation.

    Shard = md5(seed:id) mod n_shards (uniform), pos = 1-based rank of
    md5(seed:id) within the shard, ties broken by id. (shard, pos) is a
    total address: each data-parallel worker reads its shard in pos
    order. NO global sort anywhere — a global row_number would funnel
    the corpus through one task; the per-shard rank window partitions
    across ``n_shards`` tasks, each corpus/n_shards rows, which is
    exactly the trainer's own parallelism. Size ``n_shards`` with the
    corpus (the trainer's data-parallel width — hundreds to thousands
    at 100 TB): each task externally sorts corpus/n_shards full-width
    rows, spilling gracefully; the alternative (rank a pruned (id,
    hash) frame and join the address back) trades that sort for an
    extra full-width shuffle, which costs more for typical document
    rows. Returns the input columns plus (shard int, pos long)."""
    from pyspark.sql import Window
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    # the first 8 hex chars as an int: cross-engine (DuckDB replays the
    # same substring+from_hex math), uniform, and independent of the
    # rank order below only in the modulus — same-hash rows stay
    # together, which is fine (md5 collisions are negligible)
    shard = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                   F.lit(n_shards)).cast("int")
    w = Window.partitionBy(shard).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("shard", shard)
            .withColumn("pos", F.row_number().over(w).cast("long")))


# cap_per_group's phase-1 salt: a hot group's sort splits across this
# many tasks. Read at call time so tests can flip it (any positive
# value picks the same rows).
_SKEW_BUCKETS = 32


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group cap — the C4/RefinedWeb-style "at most
    k documents per source/domain" pass that keeps one hot domain from
    dominating a training mix. Rows within a group are ranked by
    md5(group:id) (a shuffled-but-reproducible order: re-runs, other
    engines, and other partitionings pick the SAME k rows — unlike
    sample()/limit(), which are layout-dependent), ties broken by id.

    Two-phase skew-safe shape (the operator's production input is
    Zipf-skewed BY CONSTRUCTION — at 100 TB the hottest domain is a
    two-digit percentage of the corpus, and a single
    ``Window.partitionBy(group)`` would sort terabytes in one task):

    1. Salt every row into one of ``_SKEW_BUCKETS`` (32) sub-buckets
       on xxhash64(id) and keep the top-k of each (group, salt)
       sub-bucket — the hot group's sort splits across 32 tasks, each
       bounded, over-keeping at most 32 * k rows per group.
    2. Exact-rank the survivors per group with the SAME order and keep
       k. Phase 2's per-group input is ≤ 32 * k rows
       regardless of corpus size, so its single-task window is bounded
       by configuration, not data.

    The two phases pick exactly the rows the single-window form picks,
    with identical ``group_rank`` values: the group's true top-k by the
    md5 order places at most k rows in any one salt bucket, so phase 1
    can never drop one of them, and every row the md5 order places
    above a phase-2 survivor is itself a survivor (the salt only routes
    rows to tasks, it never enters the order). Groups smaller than k
    pass through whole. The cap filter runs before anything downstream,
    so at 100 TB it also bounds every later stage's input. Returns the
    input columns plus the 1-based ``group_rank``."""
    from pyspark.sql import Window
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = F.md5(F.concat_ws(":", F.col(group_col).cast("string"),
                          F.col(id_col).cast("string")))
    order = [h.asc(), F.col(id_col).asc()]
    # the salt never affects WHICH rows are kept or their rank — only
    # which task ranks them — so it may use the engine-native xxhash64
    # (no cross-engine md5 contract needed, unlike the order hash)
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                  F.lit(_SKEW_BUCKETS))
    pre = Window.partitionBy(F.col(group_col), salt).orderBy(*order)
    survivors = (df.withColumn("_cap_pre_rank", F.row_number().over(pre))
                 .filter(F.col("_cap_pre_rank") <= k)
                 .drop("_cap_pre_rank"))
    w = Window.partitionBy(group_col).orderBy(*order)
    return (survivors.withColumn("group_rank", F.row_number().over(w))
            .filter(F.col("group_rank") <= k))


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture resampling — the multilingual /
    multi-source rebalancing step of a training mix: stratum shares
    are flattened from proportional (alpha=1) toward uniform
    (alpha=0) by sampling stratum i at rate
    (min_j n_j^(1-alpha)) / n_i^(1-alpha) — the closed form of
    "target share proportional to n^alpha, scaled so the most
    downweighted-toward stratum keeps rate 1.0" (no stratum is ever
    upsampled; pair with a loader-side repeat factor if oversampling
    is wanted). Unlike ``mix_sample`` the rates are COMPUTED FROM THE
    DATA in-plan: one stratum-count aggregate, one 1-row min
    aggregate broadcast back, then the same map-only
    md5-prefix-vs-threshold keep decision (the threshold hex renders
    in-plan via format_string, quantized to the same 1/65536 grid as
    ``rate_threshold``, so the decision stays a pure function of
    (key, stratum counts) — reproducible across engines,
    partitionings, and re-runs). Returns the input columns plus
    ``mix_rate`` (the stratum's keep-rate) for mix-card auditing.

    Scale: nothing corpus-sized is broadcast (the rate frame is one
    row per stratum); the filter is map-side after one broadcast
    join; adding/removing a stratum changes only that stratum's
    count row."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    e = 1.0 - alpha
    cnt = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    pw = cnt.select(strata_col,
                    F.pow(F.col("_n").cast("double"), F.lit(e)).alias("_pw"))
    mn = pw.agg(F.min("_pw").alias("_mn"))
    rates = (pw.crossJoin(F.broadcast(mn))
             .select(strata_col,
                     (F.col("_mn") / F.col("_pw")).alias("mix_rate")))
    thr = F.format_string(
        "%04x", F.floor(F.col("mix_rate") * _HEX_SPACE).cast("int"))
    return (df.join(F.broadcast(rates), strata_col)
            .filter((F.col("mix_rate") >= 1.0) | (_prefix(key_col) < thr)))
