"""Iterative path operators: variable-length expansion, shortest paths,
Dijkstra.

The reference implements these as dedicated executor nodes —
depth-first VLE (reference: src/backend/executor/execGraphVle.c:329
ExecGraphVLEDFS), bidirectional-BFS shortest path
(nodeShortestpath.c:79, nodeHash2Side.c), and pairing-heap Dijkstra
(nodeDijkstra.c:338). A BFS frontier of joins yields the same *output
set* with distributed parallelism: each iteration is one shuffle join
of the frontier against the (direction-normalized) edge relation, with
per-path edge-uniqueness enforced by ``array_contains`` filters — the
DataFrame analog of the reference's per-path visited set.

Scale notes:
- the edge relation is pinned for the duration of the loop and
  released on exit;
- path-array columns grow O(depth); the VLE frontier's lineage is cut
  every ``_superstep._CHECKPOINT_EVERY`` hops;
- frontiers are pruned per hop (shortest-path keeps only the cheapest
  row per (seed, vertex)), so frontier size is bounded by reachable
  vertices, not path count;
- searches stop at the label graph's depth: the Cypher compiler clamps
  every hop budget to ``Graph.path_depth`` — the longest chain of
  (start label, end label) pairs in the graph's edge triples, when that
  label graph is acyclic — so a VLE ``*`` or a ``shortestpath *..k``
  over a two-level hierarchy expands two hops, and ``dijkstra_paths``
  ends at that round without probing for a drained frontier. The bound
  is derived from exact statistics, never a user option; without
  triples, over a cyclic label graph or on undirected patterns the
  budgets are unchanged;
- **iteration state is generational**: each round materializes the new
  generation, then retires the superseded one (GraphX-Pregel style).
  A 30-iteration run holds O(1) pinned frames, not O(iterations).
  Retired generations can in principle be needed again if a healthy
  executor drops a MEMORY_AND_DISK block of the live generation — that
  does not happen short of executor loss, which already invalidates
  ``localCheckpoint`` lineage (its documented tradeoff). Production
  deployments that must survive executor loss set the engine conf
  ``spark.agensgraph.checkpointDir`` to a reliable (HDFS/object-store)
  path: every iterative operator, these and those of analytics.py and
  the pipelines alike, then truncates lineage with reliable
  ``DataFrame.checkpoint`` instead (see ``_superstep.truncate``).

Edge input convention: a DataFrame with columns
``src, dst, eid`` (+ ``w`` for Dijkstra) — already direction-normalized
(undirected patterns pass the two-orientation union, reference:
genEdgeUnion parse_graph.c:2100).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agensgraph_spark.operators import _superstep as S

log = logging.getLogger(__name__)

DEFAULT_MAX_HOPS = 12


BROADCAST_EDGE_LIMIT = 200_000
BROADCAST_FRONTIER_LIMIT = 100_000


def _pin_edges(edges: DataFrame) -> tuple[DataFrame, bool]:
    """Persist the edge relation: every hop re-joins it, and each
    iteration's isEmpty/cache action would otherwise re-run the whole
    scan lineage (label unions, graphid arithmetic) once per hop.
    MEMORY_AND_DISK so oversized edge sets spill instead of OOM.

    Returns (edges, small): when the persisted relation is small the
    caller broadcasts it into every hop join — the frontier then never
    shuffles on the join key, collapsing each hop to one narrow stage.
    (Counting is ~free: it is the action that materializes the
    persist.)"""
    from pyspark import StorageLevel
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    return edges, edges.count() <= BROADCAST_EDGE_LIMIT


def _hop_side(edges: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(edges) if small else edges


def _unpersist(*dfs: DataFrame | None) -> None:
    """Retire superseded cached generations (non-blocking). Safe on
    frames that were never persisted; localCheckpoint storage is
    RDD-level (not in the CacheManager) and is reclaimed by the
    ContextCleaner once the superseded frame is unreferenced."""
    for df in dfs:
        if df is not None:
            try:
                df.unpersist(blocking=False)
            except Exception:  # pragma: no cover - defensive
                pass


def vle_expand(
    edges: DataFrame,
    seeds: DataFrame,
    min_hops: int,
    max_hops: int | None,
    unique_edges: bool = True,
) -> DataFrame:
    """Variable-length edge expansion ``[:T*min..max]``.

    seeds: one column ``seed`` (distinct start vertex ids).
    Returns (seed, dst, eids array<long>, vids array<long>, len) for
    every path with len in [min_hops, max_hops]; vids includes interior
    + final vertices but not the seed. Zero-length rows (min_hops=0)
    pair each seed with itself and empty arrays.

    When the edge relation is pinned (max_hops > 3), the result is
    materialized once (localCheckpoint) before returning so the pin can
    be released — the returned frame holds the expansion and no longer
    references the edge relation. r14: depth <= 3 expansions skip the
    pin entirely — up to three raw scans of the edge lineage are
    cheaper than a materialize+count+checkpoint cycle (the same trade
    dijkstra_paths makes for its first rounds), and the zero-job
    compile makes the bounded-VLE plan — and the shallow
    shortestpath/allshortestpaths searches built on it — fully lazy
    (recomputed from parquet at every action, and eligible for the
    workload plan memo).
    """
    if max_hops is None:
        max_hops = DEFAULT_MAX_HOPS
    hop_cap = DEFAULT_MAX_HOPS * 4
    if max_hops > hop_cap:
        log.warning(
            "vle_expand: max_hops=%d clamped to %d — paths longer than "
            "%d hops are NOT returned", max_hops, hop_cap, hop_cap)
        max_hops = hop_cap
    frontier = seeds.select(
        F.col("seed"),
        F.col("seed").alias("cur"),
        F.array().cast("array<long>").alias("eids"),
        F.array().cast("array<long>").alias("vids"),
        F.lit(0).cast("long").alias("len"),
    )
    if max_hops < min_hops:
        # an inverted range (*3..2, or a hop budget clamped below the
        # minimum) matches no path
        return frontier.select("seed", F.col("cur").alias("dst"), "eids", "vids", "len").limit(0)
    small = False
    pinned = max_hops > 3
    if pinned:
        edges, small = _pin_edges(edges)

    results = []
    if min_hops == 0:
        results.append(frontier.select("seed", F.col("cur").alias("dst"), "eids", "vids", "len"))

    # seed-round frontier size: one cheap job over the small distinct
    # seed set. Knowing it lets hop 1 BROADCAST a small frontier so the
    # big pinned edge relation never shuffles — without the hint AQE
    # materializes the edge shuffle's map side before flipping to
    # broadcast (the dijkstra r12 finding; at cluster scale that is a
    # full shuffle write of the edge relation). Later rounds' frontiers
    # are lazy (checkpointed only every `_CHECKPOINT_EVERY`), so their
    # sizes are unknown between checkpoints and AQE keeps the decision.
    fcount: int | None = None
    if pinned and not small:
        fcount = seeds.count()

    for k in range(1, max_hops + 1):
        if not small and fcount is not None and fcount <= BROADCAST_FRONTIER_LIMIT:
            fside = F.broadcast(frontier)
        else:
            fside = frontier
        step = fside.join(_hop_side(edges, small), frontier.cur == edges.src, "inner")
        if unique_edges:
            step = step.filter(~F.array_contains(F.col("eids"), F.col("eid")))
        frontier = step.select(
            "seed",
            F.col("dst").alias("cur"),
            F.concat(F.col("eids"), F.array(F.col("eid"))).alias("eids"),
            F.concat(F.col("vids"), F.array(F.col("dst"))).alias("vids"),
            F.lit(k).cast("long").alias("len"),
        )
        fcount = None
        if k % S._CHECKPOINT_EVERY == 0:
            frontier = S.truncate(frontier)
            # the frame is materialized — the count reads stored blocks
            fcount = frontier.count()
        if k >= min_hops:
            results.append(frontier.select("seed", F.col("cur").alias("dst"), "eids", "vids", "len"))
        # stop early once the frontier drains; the isEmpty probe is a
        # Spark job, so only pay for it when enough depth remains — and
        # skip it entirely on checkpoint rounds where fcount was just
        # computed from the materialized frame
        if k < max_hops and (max_hops - k > 2):
            if (fcount == 0) if fcount is not None else frontier.isEmpty():
                break

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if pinned:
        # the per-depth union stacks every hop's partitioning — cap the
        # task count before materializing (coalesce is narrow; a no-op
        # when the plan is already at or below the target)
        spread = out.sparkSession.sparkContext.defaultParallelism
        out = out.coalesce(2 * spread)
        # materialize the expansion once, then release the edge pin:
        # the checkpointed result no longer references the relation
        out = S.truncate(out)
        _unpersist(edges)
    return out


def bfs_shortest(
    edges: DataFrame,
    pairs: DataFrame,
    min_hops: int,
    max_hops: int | None,
    all_paths: bool = False,
) -> DataFrame:
    """Unweighted shortest path(s) between bound endpoint pairs.

    pairs: columns (seed, target) — distinct endpoint id pairs.
    Returns (seed, target, eids, vids, len): the first depth in
    [min_hops, max_hops] at which target is reached from seed;
    all_paths=False keeps one arbitrary shortest path (reference
    SHORTESTPATH), True keeps every shortest path (ALLSHORTESTPATHS).

    Every generation (frontier / visited / accumulated hits) is an
    eagerly localCheckpointed frame: each round's plan references only
    materialized RDDs, never the recurrence history. Without this the
    logical tree grows Fibonacci-fashion (frontier_k references paths
    of BOTH prior generations) and analysis + recompute go exponential
    past ~5 iterations. Superseded generations hold no CacheManager
    entries; their RDD blocks are reclaimed by the ContextCleaner.
    """
    if max_hops is None:
        max_hops = DEFAULT_MAX_HOPS
    if max_hops <= 3 or max_hops < min_hops:
        # shallow bounded search: one VLE expansion + a single min-depth
        # selection beats per-hop visited-pruning (whose 2-3 shuffles
        # per hop dominate when the hop budget is this small; path
        # blowup is bounded by E^3); an inverted range expands nothing
        return _bfs_shortest_shallow(edges, pairs, min_hops, max_hops, all_paths)
    edges, small = _pin_edges(edges)
    pairs = pairs.select("seed", "target").distinct().cache()
    pairs_pin = pairs  # unpersist handle (pairs may be narrowed below)

    zero: DataFrame | None = None
    if min_hops == 0:
        # a zero-hop path exists iff seed == target — two plain filters,
        # no self-join (joining pairs back against pairs-derived frames
        # trips Spark's ambiguous-attribute handling on the cached
        # relation); the satisfied pairs leave the search set entirely
        zero = pairs.filter(F.col("seed") == F.col("target")).select(
            "seed", "target",
            F.array().cast("array<long>").alias("eids"),
            F.array().cast("array<long>").alias("vids"),
            F.lit(0).cast("long").alias("len"))
        # narrow via anti-join, NOT filter(seed != target): a filter
        # constraint propagates through the loop's hit joins (even
        # across localCheckpoint, which preserves constraints) and
        # Spark's UnionBase.rewriteConstraints crashes on attributes
        # the hit projection dropped; anti-join output carries only the
        # left child's constraints
        pairs = pairs.join(zero.select("seed", "target"),
                           ["seed", "target"], "left_anti")

    seeds = pairs.select("seed").distinct()
    frontier = seeds.select(
        F.col("seed"),
        F.col("seed").alias("cur"),
        F.array().cast("array<long>").alias("eids"),
        F.array().cast("array<long>").alias("vids"),
        F.lit(0).cast("long").alias("len"),
    )
    frontier = S.truncate(frontier)
    # every generation is eagerly checkpointed, so the per-round count
    # reads materialized blocks (~ms) — it powers BOTH the drain probe
    # (replacing isEmpty) and the broadcast hint that keeps the pinned
    # edge relation from shuffling under AQE (dijkstra r12 finding)
    fcount: int | None = frontier.count()
    found: DataFrame | None = None  # accumulated hits (lazy union of
    # per-round joins whose parents are all checkpointed/cached)
    visited = frontier.select("seed", "cur")  # vertices seen at depth <= k

    for k in range(1, max_hops + 1):
        if not small and fcount is not None and fcount <= BROADCAST_FRONTIER_LIMIT:
            fside = F.broadcast(frontier)
        else:
            fside = frontier
        step = fside.join(_hop_side(edges, small), frontier.cur == edges.src, "inner") \
                       .filter(~F.array_contains(F.col("eids"), F.col("eid")))
        nxt = step.select(
            "seed",
            F.col("dst").alias("cur"),
            F.concat(F.col("eids"), F.array(F.col("eid"))).alias("eids"),
            F.concat(F.col("vids"), F.array(F.col("dst"))).alias("vids"),
            F.lit(k).cast("long").alias("len"),
        )
        # BFS pruning: a path reaching a vertex already seen at an
        # earlier depth cannot be (part of) a shortest path
        nxt = nxt.join(visited, ["seed", "cur"], "left_anti")
        if not all_paths:
            # one representative path per (seed, vertex)
            w = Window.partitionBy("seed", "cur").orderBy(F.col("eids").getItem(0))
            nxt = nxt.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        frontier = S.truncate(nxt)
        # visited checkpoints per round: a lazy union would re-run every
        # prior generation's distinct in each round's anti-join (O(k²)
        # shuffles); the narrow (seed, cur) checkpoint is one small job
        visited = S.truncate(
            visited.unionByName(frontier.select("seed", "cur").distinct()))

        # this round's hits join the full (cached, small) pair set: BFS
        # visited-pruning guarantees a (seed, target) vertex appears in
        # at most ONE frontier generation, so a pair can never hit
        # twice — the hit frame references only the CHECKPOINTED
        # frontier and the cached pairs, so the accumulated result can
        # stay a LAZY union (flat lineage, no per-round checkpoint job;
        # round 9 measured the saved job at ~60 ms/round on local[32])
        hit = frontier.alias("f").join(
            pairs.alias("r"),
            (F.col("f.seed") == F.col("r.seed")) & (F.col("f.cur") == F.col("r.target")),
        ).select(F.col("f.seed").alias("seed"), F.col("f.cur").alias("target"), "eids", "vids", "len")
        found = hit if found is None else found.unionByName(hit)
        # early-exit probes: the count is ~free on the checkpointed
        # frame (and feeds next round's broadcast hint); the
        # all-pairs-satisfied probe re-runs the accumulated hit joins
        # (each a small join against materialized frontiers), so only
        # probe on even rounds with real depth left. On the FINAL round
        # there is no next round to hint or break out of — skip the job
        if k < max_hops:
            fcount = frontier.count()
            if fcount == 0:
                break
        if (k < max_hops and (max_hops - k > 2) and k % 2 == 0
                and pairs.join(found.select("seed", "target").distinct(),
                               ["seed", "target"], "left_anti").isEmpty()):
            break

    if zero is not None:
        # zero-length hits merge at the end: depth 0 beats any loop
        # depth, and seed==target pairs never entered the loop's search
        found = zero if found is None else found.unionByName(zero)
    if found is not None:
        # materialize BEFORE releasing the cached pairs/edges: the lazy
        # hit union still references them, and unpersisting first would
        # re-derive pairs' distinct from raw lineage on every final
        # evaluation (and diverge if the caller's frame is
        # non-deterministic)
        found = S.truncate(found)
    _unpersist(pairs_pin, edges)
    if found is None or not found.take(1):
        return pairs.limit(0).select(
            F.col("seed"), F.col("target"),
            F.array().cast("array<long>").alias("eids"),
            F.array().cast("array<long>").alias("vids"),
            F.lit(0).cast("long").alias("len"),
        )
    out = found
    if min_hops > 0:
        out = out.filter(F.col("len") >= min_hops)
    # keep only the minimal depth per pair (visited-pruning means a pair
    # hits in exactly one frontier generation, but all_paths keeps every
    # path of that depth; later depths never re-add the pair)
    w = Window.partitionBy("seed", "target")
    out = out.withColumn("_min", F.min("len").over(w)).filter(F.col("len") == F.col("_min")).drop("_min")
    if not all_paths:
        w2 = Window.partitionBy("seed", "target").orderBy(F.col("len"))
        out = out.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") == 1).drop("_rn")
    return out


def _bfs_shortest_shallow(
    edges: DataFrame,
    pairs: DataFrame,
    min_hops: int,
    max_hops: int,
    all_paths: bool,
) -> DataFrame:
    pairs = pairs.select("seed", "target").distinct()
    exp = vle_expand(edges, pairs.select("seed").distinct(), min_hops, max_hops)
    hit = exp.join(pairs.withColumnRenamed("seed", "__s"),
                   (exp.seed == F.col("__s")) & (exp.dst == F.col("target")), "inner") \
             .select("seed", "target", "eids", "vids", "len")
    w = Window.partitionBy("seed", "target")
    hit = hit.withColumn("_min", F.min("len").over(w)).filter(F.col("len") == F.col("_min")).drop("_min")
    if not all_paths:
        # try_element_at: a zero-length path (min_hops=0, seed==target)
        # has an EMPTY eids array — getItem(0) would raise under ANSI
        w2 = Window.partitionBy("seed", "target").orderBy(
            "len", F.try_element_at(F.col("eids"), F.lit(1)))
        hit = hit.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") == 1).drop("_rn")
    return hit


def dijkstra_paths(
    edges: DataFrame,
    pairs: DataFrame | None,
    max_iters: int = 30,
    limit: int = 1,
    seeds: DataFrame | None = None,
    targets: DataFrame | None = None,
    *,
    _depth: int | None = None,
) -> DataFrame:
    """Cheapest path(s) by edge weight: Bellman-Ford-style iterative
    relaxation until no distance improves (reference: nodeDijkstra.c —
    a sequential pairing-heap; relaxation converges to the same result
    and distributes).

    edges: (src, dst, eid, w double). pairs: (seed, target).
    Returns (seed, target, eids, vids, len, weight) — up to ``limit``
    cheapest paths per pair, ordered by total weight.

    Generation management is hybrid. The relaxation recurrence
    references BOTH prior generations (new_frontier = new_paths ∖
    paths), so the logical tree grows Fibonacci-fashion — anything
    short of lineage truncation turns analysis + recompute exponential
    past ~5 iterations (measured: a 15-edge chain never finished under
    a pure cache() scheme). But truncation costs one eager job per
    frame, which shows up on the common 1-3 round searches. So rounds
    1-3 run the cheap cache() scheme (tree depth ≤3 is harmless) and
    from round 4 every generation is an eagerly localCheckpointed
    frame (flat plan, O(1) live state); the early cached generations
    are retired as soon as the first checkpoint truncates the lineage,
    and at exit only the final generation stays pinned.

    ``_depth`` is private to the Cypher compiler: the most edges any
    path through ``edges`` can have, derived from the graph's edge
    triples (``Graph.path_depth``), never set by users. When it is at
    most ``max_iters`` the search ends after that round without the
    drain probes (isEmpty, frontier anti-join, count): the next
    frontier is provably empty, so no cap is hit and nothing warns.
    """
    # Edge pinning is deferred until the loop proves it will iterate:
    # for bounded searches that drain in one hop (a common dijkstra
    # shape — single-relation patterns), paying a full materialize+count
    # of the edge relation up front costs more than the two raw scans
    # the first round needs. From iteration 2 on, every hop re-joins the
    # relation and the persist pays for itself.
    #
    # Callers with INDEPENDENT endpoint sets (MATCH (a), (b) — two
    # disconnected components) pass seeds+targets instead of pairs:
    # relaxation only ever consumes the seed set and the target set
    # filters the settled paths at the end, so materializing the
    # |seeds|x|targets| cross product (cached, then joined against at
    # exit) would be pure waste — 2M rows for a 100x20k endpoint pair
    # in the bench graph, and unboundedly worse at scale.
    small = False
    pinned = False
    if pairs is not None:
        pairs = pairs.select("seed", "target").distinct().cache()
        seeds = pairs.select("seed").distinct()
    else:
        if seeds is None or targets is None:
            raise ValueError("dijkstra_paths needs pairs or seeds+targets")
        seeds = seeds.select("seed").distinct()
        targets = targets.select("target").distinct()

    # settled best paths per (seed, vertex); keep `limit` cheapest
    paths = seeds.select(
        F.col("seed"),
        F.col("seed").alias("cur"),
        F.array().cast("array<long>").alias("eids"),
        F.array().cast("array<long>").alias("vids"),
        F.lit(0).cast("long").alias("len"),
        F.lit(0.0).alias("weight"),
    )
    paths = S.truncate(paths)
    frontier = paths
    # seed count: paths is ALREADY eagerly checkpointed, so this count
    # reads materialized blocks (~ms) — and knowing it up front lets
    # iteration 1 broadcast a small frontier instead of leaving the
    # strategy to AQE, which materializes a full shuffle of the edge
    # relation on BOTH sides before flipping to broadcast (measured at
    # the sf10 decade: the 60M-edge exchange was the dominant job,
    # 1.3s of the 5s total, plus its 0.9s AQE companion — for a
    # 25-seed frontier)
    fcount: int | None = paths.count()

    cp_from = 4  # first round that truncates lineage per generation
    early_gens: list[DataFrame] = []  # cache()-era frames to retire
    # the round after which no path can grow, when the caller proved one
    last = _depth if _depth is not None and _depth <= max_iters else None

    for k in range(1, (max_iters if last is None else last) + 1):
        # two raw scans (hop 1 + hop 2's drain probe) are cheaper than
        # an eager materialize+count, so pinning starts at depth 3 —
        # unless round 3 is the last, which reads the relation once
        if k == 3 and not pinned and last != 3:
            edges, small = _pin_edges(edges)
            pinned = True
        # whichever side is small drives the join strategy: tiny
        # frontier against a big edge relation → broadcast the frontier
        # (edges then never shuffle); small edges → broadcast edges
        if not small and fcount is not None and fcount <= BROADCAST_FRONTIER_LIMIT:
            fside = F.broadcast(frontier)
        else:
            fside = frontier
        step = fside.join(_hop_side(edges, small), frontier.cur == edges.src, "inner") \
                       .filter(~F.array_contains(F.col("eids"), F.col("eid"))) \
                       .select(
                           "seed",
                           F.col("dst").alias("cur"),
                           F.concat(F.col("eids"), F.array(F.col("eid"))).alias("eids"),
                           F.concat(F.col("vids"), F.array(F.col("dst"))).alias("vids"),
                           (F.col("len") + 1).alias("len"),
                           (F.col("weight") + F.col("w")).alias("weight"),
                       )
        if k < cp_from and k != last:
            # cheap early rounds: pin the hop join so isEmpty / rank /
            # count read it once, cache the new generation lazily
            step = step.persist()
            if step.isEmpty():
                _unpersist(step)
                fcount = 0
                break
            early_gens.append(step)
        allp = paths.unionByName(step)
        w = Window.partitionBy("seed", "cur").orderBy(F.col("weight").asc(), F.col("len").asc())
        allp = allp.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= limit)
        new_paths = allp.drop("_rn")
        if k == last:
            # the proven last round: no frontier to derive. The new
            # generation stays lazy over a checkpointed one; over
            # cache()-era generations it is checkpointed, so they can
            # be retired below
            paths = S.truncate(new_paths) if early_gens else new_paths
            break
        # frontier = rows changed this round (still candidates to extend).
        # Anti-join on full path identity (seed, cur, eids) — NOT just
        # (seed, cur): a cheaper path to an already-reached vertex must be
        # re-extended or downstream weights stay stale.
        if k < cp_from:
            new_paths = new_paths.cache()
            new_frontier = new_paths.join(
                paths.select("seed", "cur", "eids"),
                ["seed", "cur", "eids"], "left_anti",
            ).cache()
            early_gens += [new_paths, new_frontier]
        else:
            # one checkpoint job materializes the whole round (hop join
            # + rank); the anti-join then reads stored blocks only
            new_paths = S.truncate(new_paths)
            new_frontier = new_paths.join(
                paths.select("seed", "cur", "eids"),
                ["seed", "cur", "eids"], "left_anti",
            )
            new_frontier = S.truncate(new_frontier)
        fcount = new_frontier.count()
        paths, frontier = new_paths, new_frontier
        if k >= cp_from and early_gens:
            # lineage is truncated at this round's checkpoints — the
            # cache()-era generations can no longer be re-referenced
            _unpersist(*early_gens)
            early_gens = []
        if fcount == 0:
            break

    if last is None and fcount is not None and fcount > 0:
        log.warning(
            "dijkstra_paths: stopped at max_iters=%d with %d frontier "
            "rows still relaxing — longer cheapest paths may be missing",
            max_iters, fcount)
    if pairs is not None:
        out = paths.join(pairs, (paths.seed == pairs.seed) & (paths.cur == pairs.target)) \
                   .select(paths.seed, F.col("cur").alias("target"), "eids", "vids", "len", "weight")
    else:
        # independent endpoints: settled paths (small) filter against
        # the target id set — AQE broadcasts whichever side is smaller
        out = paths.join(targets, paths.cur == targets.target) \
                   .select(paths.seed, F.col("cur").alias("target"), "eids", "vids", "len", "weight")
    out = out.filter(F.col("len") > 0)
    w = Window.partitionBy("seed", "target").orderBy(F.col("weight").asc(), F.col("len").asc())
    out = out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= limit).drop("_rn")
    # the result references only the final generation (checkpointed,
    # or cached when the search converged within the cache()-era
    # rounds); retire every superseded early generation and the loop's
    # remaining pins (the pair set re-derives from the caller's frame
    # in one small shuffle if the lazy result is consumed later)
    _unpersist(*[g for g in early_gens if g is not paths])
    if pairs is not None:
        _unpersist(pairs)
    if pinned:
        _unpersist(edges)
    return out
