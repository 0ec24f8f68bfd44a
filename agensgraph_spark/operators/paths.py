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

All three share one path-row format, ``(seed, cur, eids, vids, len)``
plus ``weight`` for Dijkstra: `_start` builds the zero-length rows and
`_hop` extends a frontier by one edge (join strategy, used-edge filter
and column growth in one place).

Scale notes:
- the edge relation is pinned (`_superstep.pin`) for the duration of
  the loop and released on exit, also when the call fails;
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
- **iteration state is generational**: the shortest-path and Dijkstra
  loops cut every generation eagerly through `_superstep.truncate`
  (one write + read per generation), so each round's plan references
  only stored blocks and a 30-iteration run holds O(1) live state,
  not O(iterations). Only Dijkstra's proven last round stays lazy,
  and only when it read the raw edges (rounds 1-3): no returned frame
  reads a released pin. Superseded generations hold no CacheManager
  entries; the ContextCleaner reclaims their blocks.
  ``localCheckpoint`` blocks do not survive executor loss (its
  documented tradeoff). Production deployments that must survive
  executor loss set the engine conf ``spark.agensgraph.checkpointDir``
  to a reliable (HDFS/object-store) path: every cut in the package —
  these loops, those of analytics.py, the pipelines and the Cypher
  write path alike — then truncates lineage with reliable
  ``DataFrame.checkpoint`` instead (see ``_superstep.truncate``).

Edge input convention: a DataFrame with columns
``src, dst, eid`` (+ ``w`` for Dijkstra) — already direction-normalized
(undirected patterns pass the two-orientation union, reference:
genEdgeUnion parse_graph.c:2100).
"""

from __future__ import annotations

import logging
from contextlib import ExitStack, contextmanager, nullcontext
from functools import reduce
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agensgraph_spark.operators import _superstep as S

log = logging.getLogger(__name__)

DEFAULT_MAX_HOPS = 12


BROADCAST_EDGE_LIMIT = 200_000
BROADCAST_FRONTIER_LIMIT = 100_000


@contextmanager
def _pin_edges(edges: DataFrame) -> Iterator[tuple[DataFrame, bool]]:
    """Pin the edge relation for the ``with`` block: every hop re-joins
    it, and each iteration's count or checkpoint would otherwise re-run
    the whole scan lineage (label unions, graphid arithmetic) once per
    hop.

    Yields (edges, small): when the pinned relation is small the caller
    broadcasts it into every hop join — the frontier then never
    shuffles on the join key, collapsing each hop to one narrow stage.
    (Counting is ~free: it is the action that materializes the pin.)"""
    with S.pin(edges) as edges:
        yield edges, edges.count() <= BROADCAST_EDGE_LIMIT


def _start(seeds: DataFrame, weighted: bool = False) -> DataFrame:
    """The zero-length path of each ``seed``: (seed, cur = seed, empty
    eids and vids, len 0), plus weight 0.0 when ``weighted``."""
    return seeds.select(
        F.col("seed"),
        F.col("seed").alias("cur"),
        F.array().cast("array<long>").alias("eids"),
        F.array().cast("array<long>").alias("vids"),
        F.lit(0).cast("long").alias("len"),
        *([F.lit(0.0).alias("weight")] if weighted else []),
    )


def _hop(
    frontier: DataFrame,
    edges: DataFrame,
    small: bool,
    fcount: int | None,
    k: int,
    unique_edges: bool = True,
) -> DataFrame:
    """The paths of ``frontier`` (all of length ``k - 1``) extended by
    one edge, in the frontier's row format (``weight`` grows by ``w``
    when the frontier carries it).

    Whichever side is small drives the join strategy: small edges
    (``small``) → broadcast the edges; a frontier of known size
    ``fcount`` under the limit → broadcast the frontier, so the edges
    never shuffle. Without the hint AQE materializes the edge
    shuffle's map side before flipping to broadcast (at the sf10
    decade the 60M-edge exchange was 1.3 s of a 5 s dijkstra, plus
    0.9 s of AQE companion job, for a 25-seed frontier)."""
    if small:
        fside, eside = frontier, F.broadcast(edges)
    elif fcount is not None and fcount <= BROADCAST_FRONTIER_LIMIT:
        fside, eside = F.broadcast(frontier), edges
    else:
        fside, eside = frontier, edges
    step = fside.join(eside, frontier.cur == edges.src, "inner")
    if unique_edges:
        step = step.filter(~F.array_contains(F.col("eids"), F.col("eid")))
    return step.select(
        "seed",
        F.col("dst").alias("cur"),
        F.concat(F.col("eids"), F.array(F.col("eid"))).alias("eids"),
        F.concat(F.col("vids"), F.array(F.col("dst"))).alias("vids"),
        F.lit(k).cast("long").alias("len"),
        *([(F.col("weight") + F.col("w")).alias("weight")]
          if "weight" in frontier.columns else []),
    )


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
    materialized once (`_superstep.truncate`) before returning so the
    pin can be released — the returned frame holds the expansion and
    no longer references the edge relation. Depth <= 3 expansions
    skip the pin entirely — up to three raw scans of the edge lineage
    are cheaper than a materialize+count+checkpoint cycle, and the
    zero-job compile makes the bounded-VLE plan — and the shallow
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
    frontier = _start(seeds)

    def rows(f: DataFrame) -> DataFrame:
        return f.select("seed", F.col("cur").alias("dst"), "eids", "vids", "len")

    if max_hops < min_hops:
        # an inverted range (*3..2, or a hop budget clamped below the
        # minimum) matches no path
        return rows(frontier).limit(0)
    results = [rows(frontier)] if min_hops == 0 else []
    pinned = max_hops > 3
    with (_pin_edges(edges) if pinned
          else nullcontext((edges, False))) as (edges, small):
        # seed-round frontier size: one cheap job over the small
        # distinct seed set, so hop 1 can broadcast a small frontier
        # against the big pinned edge relation. Later rounds' frontiers
        # are lazy (checkpointed only every `_CHECKPOINT_EVERY`), so
        # their sizes are unknown between checkpoints and AQE keeps the
        # decision.
        fcount = seeds.count() if pinned and not small else None
        for k in range(1, max_hops + 1):
            frontier = _hop(frontier, edges, small, fcount, k, unique_edges)
            fcount = None
            if k % S._CHECKPOINT_EVERY == 0:
                frontier = S.truncate(frontier)
                # the frame is materialized — the count reads stored blocks
                fcount = frontier.count()
            if k >= min_hops:
                results.append(rows(frontier))
            # stop early once the frontier drains; the isEmpty probe is
            # a Spark job, so only pay for it when enough depth remains
            # — and skip it on checkpoint rounds, whose count is known
            if k < max_hops and (max_hops - k > 2):
                if (fcount == 0) if fcount is not None else frontier.isEmpty():
                    break
        # a frontier that drains before min_hops leaves no result: the
        # empty frontier stands in for it
        out = reduce(DataFrame.unionByName, results or [rows(frontier)])
        if pinned:
            # the per-depth union stacks every hop's partitioning — cap
            # the task count before materializing (coalesce is narrow; a
            # no-op when the plan is already at or below the target);
            # the cut result no longer references the pinned relation
            spread = out.sparkSession.sparkContext.defaultParallelism
            out = S.truncate(out.coalesce(2 * spread))
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
    all_paths=False keeps one shortest path per pair (reference
    SHORTESTPATH), True keeps every shortest path (ALLSHORTESTPATHS).

    A budget of at most 3 hops is one lazy VLE expansion joined to the
    pairs: per-hop visited-pruning costs 2-3 shuffles per hop, which
    dominate at that depth, and path blowup is bounded by E^3. Deeper
    searches run `_bfs_levels`. Both end in the same min-depth /
    one-representative selection.
    """
    if max_hops is None:
        max_hops = DEFAULT_MAX_HOPS
    pairs = pairs.select("seed", "target").distinct()
    if max_hops <= 3 or max_hops < min_hops:
        exp = vle_expand(edges, pairs.select("seed").distinct(), min_hops, max_hops)
        found = exp.join(pairs.withColumnRenamed("seed", "__s"),
                         (exp.seed == F.col("__s")) & (exp.dst == F.col("target")), "inner") \
                   .select("seed", "target", "eids", "vids", "len")
    else:
        found = _bfs_levels(edges, pairs, min_hops, max_hops, all_paths)
    # keep only the minimal depth per pair (visited-pruning means a pair
    # hits in exactly one frontier generation, but all_paths keeps every
    # path of that depth)
    w = Window.partitionBy("seed", "target")
    found = found.withColumn("_min", F.min("len").over(w)).filter(F.col("len") == F.col("_min")).drop("_min")
    if not all_paths:
        # try_element_at: a zero-length path (min_hops=0, seed==target)
        # has an EMPTY eids array — getItem(0) would raise under ANSI
        w2 = w.orderBy("len", F.try_element_at(F.col("eids"), F.lit(1)))
        found = found.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") == 1).drop("_rn")
    return found


def _bfs_levels(
    edges: DataFrame,
    pairs: DataFrame,
    min_hops: int,
    max_hops: int,
    all_paths: bool,
) -> DataFrame:
    """The deep search of `bfs_shortest`: level-synchronous BFS with
    per-(seed, vertex) visited-pruning. Returns the hits (seed, target,
    eids, vids, len) of depth >= min_hops, materialized.

    Every generation (frontier / visited) is cut eagerly: each round's
    plan references only materialized RDDs, never the recurrence
    history. Without this the logical tree grows Fibonacci-fashion
    (frontier_k references paths of BOTH prior generations) and
    analysis + recompute go exponential past ~5 iterations."""
    with _pin_edges(edges) as (edges, small), S.pin(pairs) as pairs:
        zero: DataFrame | None = None
        if min_hops == 0:
            # a zero-hop path exists iff seed == target; the satisfied
            # pairs leave the search set. Narrow via anti-join, NOT
            # filter(seed != target): a filter constraint propagates
            # through the loop's hit joins (even across
            # localCheckpoint, which preserves constraints) and Spark's
            # UnionBase.rewriteConstraints crashes on attributes the hit
            # projection dropped; anti-join output carries only the
            # left child's constraints
            loops = pairs.filter(F.col("seed") == F.col("target"))
            zero = _start(loops.select("seed")).withColumnRenamed("cur", "target")
            pairs = pairs.join(loops, ["seed", "target"], "left_anti")

        frontier = S.truncate(_start(pairs.select("seed").distinct()))
        # every generation is eagerly checkpointed, so the per-round
        # count reads materialized blocks (~ms) — it powers BOTH the
        # drain probe and the broadcast hint
        fcount = frontier.count()
        visited = frontier.select("seed", "cur")  # vertices seen at depth <= k
        found: DataFrame | None = None  # lazy union of per-round hits
        for k in range(1, max_hops + 1):
            # BFS pruning: a path reaching a vertex already seen at an
            # earlier depth cannot be (part of) a shortest path
            nxt = _hop(frontier, edges, small, fcount, k).join(
                visited, ["seed", "cur"], "left_anti")
            if not all_paths:
                # one representative path per (seed, vertex)
                w = Window.partitionBy("seed", "cur").orderBy(F.col("eids").getItem(0))
                nxt = nxt.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
            frontier = S.truncate(nxt)
            # visited checkpoints per round: a lazy union would re-run
            # every prior generation's distinct in each round's
            # anti-join (O(k²) shuffles); the narrow (seed, cur)
            # checkpoint is one small job
            visited = S.truncate(
                visited.unionByName(frontier.select("seed", "cur").distinct()))

            # this round's hits join the full (pinned, small) pair set:
            # visited-pruning guarantees a (seed, target) vertex appears
            # in at most ONE frontier generation, so a pair never hits
            # twice — the hit frame references only the cut frontier and
            # the pinned pairs, so the accumulated result can stay a
            # LAZY union (flat lineage, no per-round checkpoint job)
            hit = frontier.alias("f").join(
                pairs.alias("r"),
                (F.col("f.seed") == F.col("r.seed")) & (F.col("f.cur") == F.col("r.target")),
            ).select(F.col("f.seed").alias("seed"), F.col("f.cur").alias("target"), "eids", "vids", "len")
            found = hit if found is None else found.unionByName(hit)
            # early-exit probes: the count is ~free on the cut frame
            # (and feeds next round's broadcast hint); the
            # all-pairs-satisfied probe re-runs the accumulated hit
            # joins, so only probe on even rounds with real depth left.
            # On the FINAL round there is nothing left to hint or stop
            if k < max_hops:
                fcount = frontier.count()
                if fcount == 0:
                    break
            if (k < max_hops and (max_hops - k > 2) and k % 2 == 0
                    and pairs.join(found.select("seed", "target").distinct(),
                                   ["seed", "target"], "left_anti").isEmpty()):
                break

        if zero is not None:
            # depth 0 beats any loop depth, and seed==target pairs never
            # entered the loop's search
            found = found.unionByName(zero)
        # materialize BEFORE the pins go: the lazy hit union still
        # references the pinned pairs
        found = S.truncate(found)
    return found.filter(F.col("len") >= min_hops) if min_hops > 0 else found


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

    Every generation but the proven last one is cut eagerly
    (`_superstep.truncate`). The relaxation recurrence references BOTH
    prior generations (new_frontier = new_paths ∖ paths), so without a
    cut the logical tree grows Fibonacci-fashion and analysis +
    recompute turn exponential past ~5 iterations (measured: a 15-edge
    chain never finished under a pure cache() scheme). With the cut
    each round's plan is flat and O(1) generations stay live.

    ``_depth`` is private to the Cypher compiler: the most edges any
    path through ``edges`` can have, derived from the graph's edge
    triples (``Graph.path_depth``), never set by users. When it is at
    most ``max_iters`` the search ends after that round without the
    drain probes (frontier anti-join, count): the next frontier is
    provably empty, so no cap is hit and nothing warns; that last
    generation stays lazy unless it read the edge pin (round 4 on).
    """
    # Callers with INDEPENDENT endpoint sets (MATCH (a), (b) — two
    # disconnected components) pass seeds+targets instead of pairs:
    # relaxation only ever consumes the seed set and the target set
    # filters the settled paths at the end, so materializing the
    # |seeds|x|targets| cross product would be pure waste — 2M rows
    # for a 100x20k endpoint pair in the bench graph, and unboundedly
    # worse at scale.
    S.check_budget("dijkstra_paths", "max_iters", max_iters)
    if pairs is not None:
        pairs = pairs.select("seed", "target").distinct()
        seeds = pairs
    elif seeds is None or targets is None:
        raise ValueError("dijkstra_paths needs pairs or seeds+targets")

    # settled best paths per (seed, vertex); keep `limit` cheapest.
    # The seed count reads the cut's stored blocks (~ms) and lets round
    # 1 broadcast a small frontier
    paths = S.truncate(_start(seeds.select("seed").distinct(), weighted=True))
    frontier = paths
    fcount = paths.count()
    # the round after which no path can grow, when the caller proved one
    last = _depth if _depth is not None and _depth <= max_iters else None
    best = Window.partitionBy("seed", "cur").orderBy(F.col("weight").asc(), F.col("len").asc())

    with ExitStack() as pins:
        small = False
        for k in range(1, (max_iters if last is None else last) + 1):
            # the edge pin is deferred until the loop proves it will
            # iterate: two raw scans (rounds 1 and 2) are cheaper than
            # an eager materialize+count, and a search that drains in
            # one or two rounds (single-relation patterns) never pays
            # it — nor does one whose round 3 is the last
            if k == 3 and last != 3:
                edges, small = pins.enter_context(_pin_edges(edges))
            step = _hop(frontier, edges, small, fcount, k)
            new_paths = paths.unionByName(step) \
                .withColumn("_rn", F.row_number().over(best)) \
                .filter(F.col("_rn") <= limit).drop("_rn")
            if k == last:
                # a generation that read the edge pin (rounds >= 4)
                # is cut before the pin is released
                paths = S.truncate(new_paths) if k > 3 else new_paths
                break
            # one cut materializes the whole round (hop join + rank);
            # the frontier = rows changed this round (still candidates
            # to extend). Anti-join on full path identity (seed, cur,
            # eids) — NOT just (seed, cur): a cheaper path to an
            # already-reached vertex must be re-extended or downstream
            # weights stay stale.
            new_paths = S.truncate(new_paths)
            frontier = S.truncate(new_paths.join(
                paths.select("seed", "cur", "eids"),
                ["seed", "cur", "eids"], "left_anti"))
            paths = new_paths
            fcount = frontier.count()
            if fcount == 0:
                break

    if last is None and fcount > 0:
        log.warning(
            "dijkstra_paths: stopped at max_iters=%d with %d frontier "
            "rows still relaxing — longer cheapest paths may be missing",
            max_iters, fcount)
    if pairs is not None:
        out = paths.join(pairs, (paths.seed == pairs.seed) & (paths.cur == pairs.target))
    else:
        # independent endpoints: settled paths (small) filter against
        # the target id set — AQE broadcasts whichever side is smaller
        targets = targets.select("target").distinct()
        out = paths.join(targets, paths.cur == targets.target)
    out = out.select(paths.seed, F.col("cur").alias("target"), "eids", "vids", "len", "weight") \
             .filter(F.col("len") > 0)
    w = Window.partitionBy("seed", "target").orderBy(F.col("weight").asc(), F.col("len").asc())
    return out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= limit).drop("_rn")
