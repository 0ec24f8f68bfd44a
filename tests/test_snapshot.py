"""Snapshot persistence round-trip and edge statistics."""

from pyspark.sql import functions as F

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.graph import Graph
from agensgraph_spark.loader import build_tpch_graph


def test_write_read_snapshot_roundtrip(spark, tmp_path):
    eng = CypherEngine(spark, Graph(GraphCatalog("snap")))
    eng.cypher("CREATE (:person {name: 'ana'})-[:knows {w: 1}]->(:person {name: 'bob'})")
    eng.graph.write_snapshot(str(tmp_path), partitions=2)

    g2 = Graph.read_snapshot(spark, str(tmp_path), "snap")
    assert set(g2.catalog.labels) == {"person", "knows"}
    eng2 = CypherEngine(spark, g2)
    got = sorted(r["n"] for r in eng2.cypher("MATCH (p:person) RETURN p.name AS n").collect())
    assert got == ["ana", "bob"]
    edge = eng2.cypher("MATCH (a)-[k:knows]->(b) RETURN a.name AS an, b.name AS bn, k.w AS w").collect()
    assert [(r["an"], r["bn"], r["w"]) for r in edge] == [("ana", "bob", 1)]


def test_edge_stats_graphmeta(spark):
    g = build_tpch_graph(spark, "/root/testdata/sf0.001")
    stats = {(r["edge_label"], r["start_labid"], r["end_labid"]): r["edgecount"]
             for r in g.edge_stats().collect()}
    n_orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
    n_cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    assert stats[("placed", 1, 4)] == n_orders
    assert stats[("in_nation", 1, 5)] == n_cust
    assert stats[("in_region", 5, 6)] == 25


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup("stats-probe", "stats-probe")
    before = set(sc.statusTracker().getJobIdsForGroup("stats-probe"))
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(set(sc.statusTracker().getJobIdsForGroup("stats-probe")) - before)


def test_analyze_is_one_job(spark):
    """ANALYZE fills the label counts and the edge triples in ONE Spark
    job, both equal to a per-label recompute; a catalog label with no
    frame and one with an empty frame read 0."""
    from agensgraph_spark.graphid import labid_col
    g = build_tpch_graph(spark, "/root/testdata/sf0.001")
    g.catalog.create_vlabel("no_frame")
    g.catalog.create_elabel("no_rows")
    g.set_label_df("no_rows", spark.createDataFrame([], "id long, start long, end long"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    counts, jobs = _jobs(spark, g.collect_stats)
    assert jobs == 1 and spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert counts == {l: g.frames[l].count() if l in g.frames else 0 for l in g.catalog.labels}
    assert counts["no_frame"] == counts["no_rows"] == 0 < counts["contains"]
    want = {(l, *r) for l in g.catalog.elabels() if l in g.frames for r in g.frames[l].groupBy(
        labid_col(F.col("start")), labid_col(F.col("end"))).count().collect()}
    assert set(g.edge_triples()) == set(g.collect_edge_stats()) == want
    assert {tuple(r) for r in g.edge_stats().collect()} == want


def test_analyze_without_edge_rows(spark):
    """A graph with no edge labels, and one whose edge labels hold no
    rows, analyze to no triples; edge_stats() is then an empty frame
    with the usual schema that runs no job, as it is before ANALYZE
    when no edge label has a frame."""
    usual = build_tpch_graph(spark, "/root/testdata/sf0.001").edge_stats().dtypes
    vertex_only, no_edge_rows = Graph(GraphCatalog("vo")), Graph(GraphCatalog("ne"))
    for g in (vertex_only, no_edge_rows):
        g.catalog.create_vlabel("p")
        g.set_label_df("p", spark.createDataFrame([(1,), (2,)], "id long"))
    no_edge_rows.catalog.create_elabel("e_no_frame")
    no_edge_rows.catalog.create_elabel("e")
    no_edge_rows.set_label_df("e", spark.createDataFrame([], "id long, start long, end long"))
    assert _jobs(spark, lambda: vertex_only.edge_stats().collect()) == ([], 0)
    for g in (vertex_only, no_edge_rows):
        assert g.collect_edge_stats() == []
        assert g.label_counts() == dict.fromkeys(g.catalog.labels, 0) | {"p": 2}
        assert g.edge_stats().dtypes == usual
        assert _jobs(spark, lambda: g.edge_stats().collect()) == ([], 0)


def test_versioned_snapshots_time_travel(spark, tmp_path):
    """Immutable versioned snapshots: the MVCC-visibility batch analog —
    a later write never disturbs an earlier version's readers."""
    import pytest
    eng = CypherEngine(spark, Graph(GraphCatalog("tt")))
    eng.cypher("CREATE (:person {name: 'ana'})")
    eng.graph.write_snapshot(str(tmp_path), partitions=1, version="v1")
    eng.cypher("CREATE (:person {name: 'bob'})")
    eng.graph.write_snapshot(str(tmp_path), partitions=1, version="v2")

    assert Graph.snapshot_versions(str(tmp_path), "tt") == ["v1", "v2"]
    g1 = Graph.read_snapshot(spark, str(tmp_path), "tt", version="v1")
    g2 = Graph.read_snapshot(spark, str(tmp_path), "tt", version="latest")
    n1 = CypherEngine(spark, g1).cypher(
        "MATCH (p:person) RETURN count(*) AS n").collect()[0]["n"]
    n2 = CypherEngine(spark, g2).cypher(
        "MATCH (p:person) RETURN count(*) AS n").collect()[0]["n"]
    assert (n1, n2) == (1, 2)
    with pytest.raises(FileNotFoundError):
        Graph.read_snapshot(spark, str(tmp_path), "tt", version="nope")

    # versions are immutable: a duplicate write raises; an explicit
    # overwrite_version=True replaces it deliberately
    eng.cypher("CREATE (:person {name: 'cyn'})")
    with pytest.raises(ValueError, match="immutable"):
        eng.graph.write_snapshot(str(tmp_path), partitions=1, version="v2")
    g2b = Graph.read_snapshot(spark, str(tmp_path), "tt", version="v2")
    assert CypherEngine(spark, g2b).cypher(
        "MATCH (p:person) RETURN count(*) AS n").collect()[0]["n"] == 2
    eng.graph.write_snapshot(str(tmp_path), partitions=1, version="v2",
                             overwrite_version=True)
    assert Graph.snapshot_versions(str(tmp_path), "tt") == ["v1", "v2"]
    g2c = Graph.read_snapshot(spark, str(tmp_path), "tt", version="v2")
    assert CypherEngine(spark, g2c).cypher(
        "MATCH (p:person) RETURN count(*) AS n").collect()[0]["n"] == 3


def test_label_frames_round_trip_orc_and_json(spark, tmp_path):
    """Foreign-format round trips (§2.1 sources/sinks beyond Parquet/
    CSV): ORC and JSON label exports re-read losslessly. JDBC uses the
    same DataFrameReader surface but needs a live server, so these two
    stand in for the generic source path."""
    eng = CypherEngine(spark, Graph(GraphCatalog("fmt")))
    eng.cypher("CREATE (:person {name: 'ana', age: 31}), (:person {name: 'bob', age: 25})")
    df = eng.graph.label_df("person")
    for fmt in ("orc", "json"):
        path = f"{tmp_path}/person_{fmt}"
        df.write.format(fmt).save(path)
        back = spark.read.format(fmt).schema(df.schema).load(path)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_unwritten_label_scans_off_session_thread(spark):
    """A label declared but never written scans as an empty frame from
    any thread, not only the one that holds the active session; so
    does ``edge_stats()`` of a graph with no frames."""
    import threading
    g = Graph(GraphCatalog("threads"))
    g.catalog.create_vlabel("p")
    g.catalog.create_elabel("e")
    out: dict = {}

    def scan():
        try:
            out["rows"] = (g.vertices("p").collect(), g.edges("e").collect(),
                           g.edge_stats().collect())
        except Exception as exc:  # surfaced by the assert below
            out["error"] = exc

    t = threading.Thread(target=scan)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert out == {"rows": ([], [], [])}
