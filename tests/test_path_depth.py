"""The label graph's depth bounds every path search (Graph.path_depth).

The edge triples name, per edge label, which (start label, end label)
pairs occur. On an acyclic label graph no path is longer than its
longest chain, so the compiler clamps VLE, shortestpath and dijkstra
hop budgets to it. The bound must never change an answer: each search
here returns the same rows with the triples and without them
(``set_label_df`` drops them), a write that closes a label cycle turns
the bound off, and an inverted range returns no rows instead of
crashing."""

import pytest
from pyspark.errors import AnalysisException

from agensgraph_spark import workload
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.loader import build_tpch_graph
from agensgraph_spark.operators import paths as P

SF_DIR = "/root/testdata/sf0.001"

# one query per bounded search; every answer needs more than one hop
SEARCHES = {
    "dijkstra": workload.GRAPH_QUERIES["cy_dijkstra"][0],
    "dijkstra_2hop": (
        "MATCH (c:customer), (r:region) WHERE c.c_custkey < 20 "
        "MATCH p = dijkstra((c)-[e:in_nation|in_region]->(r), 1.0, w) "
        "RETURN c.c_custkey AS ckey, r.r_regionkey AS rkey, length(p) AS hops, w AS wt"),
    "shortestpath": workload.GRAPH_QUERIES["cy_shortestpath"][0],
    "allshortestpaths": workload.GRAPH_QUERIES["cy_allshortest"][0],
    "shortestpath_expr": workload.GRAPH_QUERIES["cy_sp_expr"][0],
    "vle_star": (
        "MATCH (c:customer)-[e:in_nation|in_region*]->(x) WHERE c.c_custkey < 20 "
        "RETURN c.c_custkey AS ckey, length(e) AS hops, x.id AS xid"),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def stats_engine(spark):
    """A private TPC-H graph with statistics: the tests mutate it."""
    g = build_tpch_graph(spark, SF_DIR)
    g.collect_stats()
    return CypherEngine(spark, g)


def test_path_depth_of_label_graph(stats_engine):
    g = stats_engine.graph
    # customer|supplier -> nation -> region
    assert g.path_depth(["in_nation", "in_region"], "out") == 2
    assert g.path_depth(["in_nation", "in_region"], "in") == 2
    assert g.path_depth(["in_region"], "out") == 1
    assert g.path_depth(["in_nation", "in_region"], "undir") is None
    g.set_label_df("region", g.frames["region"])
    assert g.path_depth(["in_nation", "in_region"], "out") is None


def test_bound_never_changes_an_answer(stats_engine):
    g = stats_engine.graph
    bounded = {k: _rows(stats_engine.cypher(q)) for k, q in SEARCHES.items()}
    g.set_label_df("region", g.frames["region"])  # drops the triples
    assert g.edge_triples() is None
    for k, q in SEARCHES.items():
        assert _rows(stats_engine.cypher(q)) == bounded[k], k
    assert all(bounded.values())
    assert {r[2] for r in bounded["shortestpath"]} == {2}
    assert max(r[1] for r in bounded["vle_star"]) == 2


def test_write_closing_a_label_cycle_lifts_the_bound(stats_engine):
    q = ("MATCH (r:region {r_regionkey: 0})-[e:in_nation|in_region*]->(x) "
         "RETURN max(length(e)) AS deepest")
    assert _rows(stats_engine.cypher(q)) == [(None,)]
    # region -> customer closes region -> customer -> nation -> region
    stats_engine.cypher("MATCH (r:region {r_regionkey: 0}), (c:customer {c_custkey: 1}) "
                        "CREATE (r)-[:in_nation]->(c)")
    g = stats_engine.graph
    assert g.edge_triples() is not None
    assert g.path_depth(["in_nation", "in_region"], "out") is None
    # r -> c -> n -> r': one hop past the old bound of 2
    assert _rows(stats_engine.cypher(q)) == [(3,)]
    sp = stats_engine.cypher(
        "MATCH (r:region {r_regionkey: 0}), (t:region) "
        "MATCH p = shortestpath((r)-[:in_nation|in_region*..5]->(t)) "
        "RETURN length(p) AS hops")
    assert _rows(sp) == [(3,)]


def test_bound_on_cyclic_label_graph_is_off(spark):
    """The reference shortestpath chain (person -knows-> person) is a
    label self-loop: no bound, and the five-hop path is found."""
    eng = CypherEngine(spark)
    eng.cypher("CREATE GRAPH cyclic_depth")
    for i in range(1, 7):
        eng.cypher(f"CREATE (:person {{id: {i}}})")
    for i in range(1, 6):
        eng.cypher(f"MATCH (a:person {{id: {i}}}), (b:person {{id: {i + 1}}}) "
                   "CREATE (a)-[:knows]->(b)")
    eng.graph.collect_edge_stats()
    assert eng.graph.path_depth(["knows"], "out") is None
    queries = [
        "MATCH (s:person {id: 1}), (t:person {id: 6}) "
        "MATCH p = shortestpath((s)-[:knows*..10]->(t)) RETURN length(p) AS hops",
        "MATCH (s:person {id: 1}), (t:person {id: 6}) "
        "MATCH p = dijkstra((s)-[e:knows]->(t), 1.0, w) RETURN length(p) AS hops",
    ]
    for q in queries:
        assert _rows(eng.cypher(q)) == [(5,)]
    eng.graph.set_label_df("knows", eng.graph.frames["knows"])
    for q in queries:
        assert _rows(eng.cypher(q)) == [(5,)]


def test_dijkstra_compile_jobs(spark):
    """cy_dijkstra's search ends after its one hop (orders -> part):
    the seed checkpoint and count run, no drain probe does."""
    eng = workload._engine(spark, SF_DIR)
    j0 = workload._compile_job_count(spark)
    eng.cypher(workload.GRAPH_QUERIES["cy_dijkstra"][0])
    assert workload._compile_job_count(spark) - j0 <= 4


@pytest.mark.parametrize("rng", ["*3..2", "*3..5"])
def test_empty_vle_range(stats_engine, rng):
    """*3..2 is inverted as written; *3..5 is clamped to the label
    graph's depth of 2, below its minimum. Both match nothing."""
    df = stats_engine.cypher(
        f"MATCH (c:customer)-[e:in_nation|in_region{rng}]->(x) "
        "RETURN c.c_custkey AS ckey, length(e) AS hops, x.id AS xid")
    assert df.columns == ["ckey", "hops", "xid"]
    assert df.collect() == []
    n = stats_engine.cypher(
        f"MATCH (c:customer)-[e:in_nation|in_region{rng}]->(x) RETURN count(*) AS n")
    assert n.collect()[0]["n"] == 0


def test_vle_expand_inverted_range(spark):
    edges = spark.createDataFrame([(i, i + 1, 100 + i) for i in range(4)],
                                  "src long, dst long, eid long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = P.vle_expand(edges, seeds, 3, 2)
    assert out.columns == ["seed", "dst", "eids", "vids", "len"]
    assert out.collect() == []


def test_vle_expand_drains_before_min_hops(spark):
    """A frontier that drains before min_hops (no label-graph bound
    clamps the range here) matches nothing."""
    edges = spark.createDataFrame([(0, 1, 10), (1, 2, 11)],
                                  "src long, dst long, eid long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = P.vle_expand(edges, seeds, 5, 12)
    assert out.columns == ["seed", "dst", "eids", "vids", "len"]
    assert out.collect() == []


def test_session_skips_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_still_raises(engine):
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN.*no_such_col"):
        engine.cypher("MATCH (c:customer) WHERE c.c_custkey < "
                      "(SELECT max(no_such_col) FROM range(3)) RETURN count(*) AS n").collect()
