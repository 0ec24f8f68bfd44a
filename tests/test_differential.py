"""Differential testing: iterative path operators vs a pure-Python
oracle on seeded random graphs (the engine's analog of the reference's
pg_regress variety — but randomized, which the reference lacks)."""

import heapq
import random
from collections import defaultdict

import pytest

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.graph import Graph
from agensgraph_spark.graphid import make_graphid
from agensgraph_spark.operators import paths as P


def random_graph(seed: int, n: int = 10, m: int = 20):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((a, b))
    return sorted(edges)


def build_engine(spark, name: str, n: int, edges) -> CypherEngine:
    cat = GraphCatalog(name)
    cat.create_vlabel("node", labid=1, props={"k": "bigint"})
    cat.create_elabel("e", labid=2)
    g = Graph(cat)
    g.set_label_df("node", spark.createDataFrame(
        [(make_graphid(1, v + 1), v) for v in range(n)], "id long, k long"))
    g.set_label_df("e", spark.createDataFrame(
        [(make_graphid(2, i + 1), make_graphid(1, a + 1), make_graphid(1, b + 1))
         for i, (a, b) in enumerate(edges)], "id long, start long, end long"))
    return CypherEngine(spark, g)


def py_paths(edges, src, min_h, max_h):
    """All edge-unique paths from src with length in [min_h, max_h] —
    the VLE contract (execGraphVle.c semantics, BFS order-insensitive)."""
    adj = defaultdict(list)
    for i, (a, b) in enumerate(edges):
        adj[a].append((i, b))
    out = []

    def walk(v, used, depth):
        if min_h <= depth <= max_h:
            out.append((src, v, depth))
        if depth == max_h:
            return
        for eid, w in adj[v]:
            if eid not in used:
                walk(w, used | {eid}, depth + 1)

    walk(src, frozenset(), 0)
    return sorted(x for x in out if x[2] >= max(min_h, 1) or min_h == 0)


def py_shortest(edges, src, dst):
    adj = defaultdict(list)
    for _, (a, b) in enumerate(edges):
        adj[a].append(b)
    frontier, seen, d = {src}, {src}, 0
    while frontier:
        if dst in frontier:
            return d
        d += 1
        frontier = {w for v in frontier for w in adj[v]} - seen
        seen |= frontier
    return None


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vle_matches_python_oracle(spark, seed):
    edges = random_graph(seed)
    eng = build_engine(spark, f"rnd{seed}", 10, edges)
    df = eng.cypher(
        "MATCH (s:node {k: 2})-[es:e*1..3]->(t:node) "
        "RETURN s.k AS sk, t.k AS tk, length(es) AS hops")
    got = sorted((r["sk"], r["tk"], r["hops"]) for r in df.collect())
    exp = py_paths(edges, 2, 1, 3)
    assert got == exp


@pytest.mark.parametrize("seed", [3, 4])
def test_shortestpath_matches_python_oracle(spark, seed):
    edges = random_graph(seed)
    eng = build_engine(spark, f"rs{seed}", 10, edges)
    df = eng.cypher(
        "MATCH (s:node {k: 0}), (t:node) WHERE t.k <> 0 "
        "MATCH p = shortestpath((s)-[:e*..6]->(t)) RETURN t.k AS tk, length(p) AS hops")
    got = {r["tk"]: r["hops"] for r in df.collect()}
    exp = {v: py_shortest(edges, 0, v) for v in range(1, 10)}
    exp = {v: d for v, d in exp.items() if d is not None and d <= 6}
    assert got == exp


def py_dijkstra(wedges, src):
    """Cheapest path weight from src to every vertex it reaches."""
    adj = defaultdict(list)
    for a, b, w in wedges:
        adj[a].append((b, w))
    dist, todo = {src: 0.0}, [(0.0, src)]
    while todo:
        d, v = heapq.heappop(todo)
        if d > dist[v]:
            continue
        for u, w in adj[v]:
            if d + w < dist.get(u, float("inf")):
                dist[u] = d + w
                heapq.heappush(todo, (d + w, u))
    return dist


@pytest.mark.parametrize("seed", [5, 6])
def test_dijkstra_matches_python_oracle(spark, seed):
    """dijkstra_paths without a proven depth (_depth=None) against a
    Python Dijkstra on a random weighted digraph with cycles. A cheap
    ring 0 -> 1 -> ... -> 7 -> 0 under dearer random chords makes the
    cheapest paths up to seven edges long, so the search runs the
    rounds before the edge pin, the round that pins it and the later
    ones, until the frontier drains. Both call forms: bound pairs, and
    independent seeds + targets."""
    rng = random.Random(seed)
    n = 8
    wedges = [(v, (v + 1) % n, 1.0) for v in range(n)]
    wedges += [(a, b, float(rng.randint(2, 9))) for a, b in random_graph(seed, n, 12)]
    edges = spark.createDataFrame(
        [(a, b, 100 + i, w) for i, (a, b, w) in enumerate(wedges)],
        "src long, dst long, eid long, w double")
    srcs = [0, 3]
    exp = {(s, t): d for s in srcs for t, d in py_dijkstra(wedges, s).items() if t != s}
    seeds = spark.createDataFrame([(s,) for s in srcs], "seed long")
    targets = spark.createDataFrame([(t,) for t in range(n)], "target long")
    for out in (P.dijkstra_paths(edges, seeds.crossJoin(targets)),
                P.dijkstra_paths(edges, None, seeds=seeds, targets=targets)):
        assert {(r["seed"], r["target"]): r["weight"] for r in out.collect()} == exp
