"""Write-clause tests mirroring the reference corpus:
cypher_dml.sql CREATE/DELETE (:545-800), SET/REMOVE/+= (:803-947),
MERGE (:968-1117); cypher_eager.sql read-after-write semantics."""

import pytest
from conftest import checkpoint_dirs, jobs_in
from pyspark.sql import functions as F

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.graph import Graph
from agensgraph_spark.graphid import graphid_labid


@pytest.fixture
def eng(spark):
    """Small people/knows graph built through the write path itself."""
    e = CypherEngine(spark, Graph(GraphCatalog("t")))
    e.cypher("CREATE (:person {name: 'ana', age: 30}), (:person {name: 'bob', age: 25}), "
             "(:person {name: 'cal', age: 41})")
    e.cypher("MATCH (a:person {name: 'ana'}), (b:person {name: 'bob'}) "
             "CREATE (a)-[:knows {since: 2020}]->(b)")
    e.cypher("MATCH (b:person {name: 'bob'}), (c:person {name: 'cal'}) "
             "CREATE (b)-[:knows {since: 2021}]->(c)")
    return e


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out)


def test_create_and_read_back(eng):
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.age AS a"), "n", "a")
    assert got == [("ana", 30), ("bob", 25), ("cal", 41)]
    stats = eng.last_write_stats
    assert stats["insertededges"] == 1


def test_create_edge_traversal(eng):
    got = rows(eng.cypher(
        "MATCH (a:person)-[k:knows]->(b:person) RETURN a.name AS an, b.name AS bn, k.since AS s"),
        "an", "bn", "s")
    assert got == [("ana", "bob", 2020), ("bob", "cal", 2021)]


def test_create_per_input_row(eng):
    # CREATE instantiates once per source row (ExecCreateGraph semantics)
    eng.cypher("MATCH (p:person) CREATE (:shadow {of: p.name})")
    got = rows(eng.cypher("MATCH (s:shadow) RETURN s.of AS o"), "o")
    assert got == [("ana",), ("bob",), ("cal",)]


def test_create_path_and_ids_distinct(eng):
    df = eng.cypher("CREATE p = (:a1 {x: 1})-[:r1]->(:a1 {x: 2}) RETURN length(p) AS l")
    assert [r["l"] for r in df.collect()] == [1]
    ids = [r["i"] for r in eng.cypher("MATCH (n:a1) RETURN n.id AS i").collect()]
    assert len(set(ids)) == 2


def test_set_property(eng):
    eng.cypher("MATCH (p:person {name: 'ana'}) SET p.age = 31")
    got = rows(eng.cypher("MATCH (p:person {name: 'ana'}) RETURN p.age AS a"), "a")
    assert got == [(31,)]
    assert eng.last_write_stats["updatedproperties"] >= 1


def test_set_new_property_extends_schema(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) SET p.city = 'nyc'")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.city AS c"), "n", "c")
    assert got == [("ana", None), ("bob", "nyc"), ("cal", None)]


def test_set_returns_updated_value_same_statement(eng):
    # reflectModifiedProp: RETURN after SET sees the new value
    df = eng.cypher("MATCH (p:person {name: 'cal'}) SET p.age = p.age + 1 RETURN p.age AS a")
    assert [r["a"] for r in df.collect()] == [42]


def test_set_plus_equals_merges(eng):
    eng.cypher("MATCH (p:person {name: 'ana'}) SET p += {age: 33, tag: 'x'}")
    got = rows(eng.cypher("MATCH (p:person {name: 'ana'}) RETURN p.age AS a, p.tag AS t, p.name AS n"),
               "a", "t", "n")
    assert got == [(33, "x", "ana")]


def test_set_overwrite_clears_others(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) SET p = {name: 'bob', age: 26}")
    got = rows(eng.cypher("MATCH (p:person {name: 'bob'}) RETURN p.age AS a"), "a")
    assert got == [(26,)]


def test_remove_property(eng):
    eng.cypher("MATCH (p:person {name: 'cal'}) REMOVE p.age")
    got = rows(eng.cypher("MATCH (p:person) WHERE p.age IS NULL RETURN p.name AS n"), "n")
    assert got == [("cal",)]


def test_delete_vertex_with_edges_errors(eng):
    with pytest.raises(ValueError, match="DETACH"):
        eng.cypher("MATCH (p:person {name: 'bob'}) DELETE p")


def test_detach_delete_removes_incident_edges(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) DETACH DELETE p")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 2
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 0
    assert eng.last_write_stats == {
        "insertedvertices": 0, "insertededges": 0,
        "deletedvertices": 1, "deletededges": 2, "updatedproperties": 0}


def test_delete_edge_only(eng):
    eng.cypher("MATCH (:person {name: 'ana'})-[k:knows]->() DELETE k")
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 1
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 3


def test_merge_matches_existing(eng):
    before = eng.cypher("MATCH (p:person) RETURN p").count()
    eng.cypher("MERGE (p:person {name: 'ana'})")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == before


def test_merge_creates_missing(eng):
    eng.cypher("MERGE (p:person {name: 'dee'})")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n"), "n")
    assert got == [("ana",), ("bob",), ("cal",), ("dee",)]


def test_merge_on_create_on_match(eng):
    eng.cypher("MERGE (p:person {name: 'eve'}) ON CREATE SET p.age = 1 ON MATCH SET p.age = 99")
    assert rows(eng.cypher("MATCH (p:person {name: 'eve'}) RETURN p.age AS a"), "a") == [(1,)]
    eng.cypher("MERGE (p:person {name: 'eve'}) ON CREATE SET p.age = 1 ON MATCH SET p.age = 99")
    assert rows(eng.cypher("MATCH (p:person {name: 'eve'}) RETURN p.age AS a"), "a") == [(99,)]


def test_merge_edge_between_bound(eng):
    q = ("MATCH (a:person {name: 'ana'}), (c:person {name: 'cal'}) "
         "MERGE (a)-[:knows {since: 2022}]->(c)")
    eng.cypher(q)
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 3
    eng.cypher(q)  # second run: matched, no new edge
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 3


def test_merge_dedups_parallel_duplicates(eng):
    # two input rows demanding the same absent node → exactly one create
    eng.cypher("UNWIND [1, 2] AS i MERGE (p:person {name: 'fay'})")
    assert eng.cypher("MATCH (p:person {name: 'fay'}) RETURN p").count() == 1


def test_merge_preserves_input_cardinality(eng):
    # per-row match-or-create (execCypherMerge.c:35): duplicate input
    # rows each produce an output row bound to the SAME created node
    df = eng.cypher("UNWIND [1, 1, 2] AS x MERGE (n:tcard {k: x}) "
                    "RETURN x, n.k AS nk")
    got = rows(df, "x", "nk")
    assert got == [(1, 1), (1, 1), (2, 2)]
    # exactly one node per distinct key was created
    assert eng.cypher("MATCH (n:tcard) RETURN n").count() == 2
    # keyless MERGE: one node, still one output row per input row
    df2 = eng.cypher("UNWIND [1, 2, 3] AS x MERGE (m:tcard2) RETURN x, m.id AS mid")
    assert df2.count() == 3
    assert df2.select("mid").distinct().count() == 1
    assert eng.cypher("MATCH (m:tcard2) RETURN m").count() == 1


def test_locid_allocation_dense(eng):
    # dense per-batch locids: repeated multi-partition CREATEs advance
    # the locid by exactly the row count, never ~2^33 per partition
    for _ in range(3):
        eng.cypher("UNWIND range(1, 40) AS i CREATE (:densev {v: i})")
    ids = [r["i"] for r in eng.cypher(
        "MATCH (d:densev) RETURN d.id AS i").collect()]
    assert len(ids) == 120
    locids = sorted(i & ((1 << 48) - 1) for i in ids)
    assert locids == list(range(locids[0], locids[0] + 120))


def test_merge_prop_from_pipeline_var(eng):
    # MERGE pattern props may reference the incoming row (per-row
    # match-or-create: execCypherMerge.c ExecMergeGraph); 'ana' exists,
    # 'gil'/'hal' are created once each, duplicate 'gil' collapses
    eng.cypher("UNWIND ['ana', 'gil', 'hal', 'gil'] AS nm "
               "MERGE (p:person {name: nm}) "
               "ON CREATE SET p.fresh = true ON MATCH SET p.seen = true")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.fresh AS f, p.seen AS s"),
               "n", "f", "s")
    assert ("ana", None, True) in got
    assert ("gil", True, None) in got and ("hal", True, None) in got
    assert len([r for r in got if r[0] == "gil"]) == 1
    assert ("bob", None, None) in got


def test_eager_create_then_match_sees_writes(eng):
    # cypher_eager.sql: a later clause reads an earlier clause's writes
    df = eng.cypher("CREATE (:flag {v: 7}) WITH 1 AS one MATCH (f:flag) RETURN f.v AS v")
    assert [r["v"] for r in df.collect()] == [7]


def test_unbound_labels_isolated_per_label(eng):
    eng.cypher("CREATE (:animal {name: 'rex'})")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 3
    got = rows(eng.cypher("MATCH (a:animal) RETURN a.name AS n"), "n")
    assert got == [("rex",)]
    # labid partitioning: ids of different labels never collide
    pid = [r["i"] for r in eng.cypher("MATCH (p:person) RETURN p.id AS i").collect()]
    aid = [r["i"] for r in eng.cypher("MATCH (a:animal) RETURN a.id AS i").collect()]
    assert {graphid_labid(i) for i in pid}.isdisjoint({graphid_labid(i) for i in aid})


def test_write_stats_dataframe(eng):
    df = eng.cypher("CREATE (:person {name: 'gus'})")
    row = df.collect()[0]
    assert row["insertedvertices"] == 1 and row["insertededges"] == 0


# --- multi-write-clause statements (cypher_eager.sql combinations) ---

def test_create_then_set_one_statement(eng):
    eng.cypher("CREATE (n:combo {v: 1}) SET n.v = n.v + 10")
    got = rows(eng.cypher("MATCH (n:combo) RETURN n.v AS v"), "v")
    assert got == [(11,)]


def test_match_create_set_returns(eng):
    df = eng.cypher(
        "MATCH (p:person) CREATE (s:copycat {of: p.name}) "
        "SET s.stamp = 7 RETURN s.of AS o, s.stamp AS st")
    got = sorted((r["o"], r["st"]) for r in df.collect())
    assert got == [("ana", 7), ("bob", 7), ("cal", 7)]


def test_merge_then_create_edge(eng):
    eng.cypher(
        "MERGE (hub:hub {name: 'H'}) "
        "WITH hub MATCH (p:person {name: 'ana'}) CREATE (p)-[:linked]->(hub)")
    assert eng.cypher("MATCH (:person)-[:linked]->(:hub) RETURN 1").count() == 1
    # idempotent MERGE re-run adds only the edge
    eng.cypher(
        "MERGE (hub:hub {name: 'H'}) "
        "WITH hub MATCH (p:person {name: 'bob'}) CREATE (p)-[:linked]->(hub)")
    assert eng.cypher("MATCH (h:hub) RETURN h").count() == 1
    assert eng.cypher("MATCH (:person)-[:linked]->(:hub) RETURN 1").count() == 2


def test_delete_then_create_same_statement(eng):
    eng.cypher("CREATE (:tmp1 {v: 1}), (:tmp1 {v: 2})")
    eng.cypher("MATCH (t:tmp1) DELETE t CREATE (:tmp2 {v: t.v * 100})")
    assert eng.cypher("MATCH (t:tmp1) RETURN t").count() == 0
    got = rows(eng.cypher("MATCH (t:tmp2) RETURN t.v AS v"), "v")
    assert got == [(100,), (200,)]


def test_set_whole_map_from_properties(spark):
    """SET n = properties(m) replaces the whole map (reference:
    execCypherSet.c whole-jsonb assignment; cypher_eager.sql uses the
    same form in CREATE); += merges, preserving unmentioned keys."""
    from agensgraph_spark.cypher.compiler import CypherEngine
    eng = CypherEngine(spark)
    eng.cypher("CREATE GRAPH setmap")
    eng.cypher("UNWIND [1, 2] AS i CREATE (:sa {x: i, y: i * 10})")
    eng.cypher("UNWIND [1, 2] AS i CREATE (:sb {x: i * 100, q: i})")
    eng.cypher("MATCH (m:sa {x: 1}), (n:sb {x: 100}) SET n = properties(m)")
    got = [tuple(r) for r in eng.cypher(
        "MATCH (n:sb) RETURN n.x AS x, n.y AS y, n.q AS q ORDER BY x").collect()]
    assert got == [(1, 10, None), (200, None, 2)]   # q erased by replace
    eng.cypher("MATCH (m:sa {x: 2}), (n:sb {x: 200}) SET n += properties(m)")
    got2 = [tuple(r) for r in eng.cypher(
        "MATCH (n:sb) RETURN n.x AS x, n.y AS y, n.q AS q ORDER BY x").collect()]
    assert got2 == [(1, 10, None), (2, 20, 2)]      # += keeps q


def test_delete_stat_jobs_one_per_victim_kind(spark, monkeypatch):
    """Perf contract (r5 task: cut write-stat job burn): DELETE stats
    come from ONE labid-groupBy job per victim frame (fast path) — not
    two frame counts per touched label — and the repeated-delete exact
    path costs at most two. Stats stay exact either way."""
    from agensgraph_spark.cypher import writes as W

    jobs_per_call: list[int] = []
    orig = W.WriteMixin._victim_groups

    def counting(self, victims, kind):
        out = []
        jobs_per_call.append(jobs_in(
            spark, lambda: out.append(orig(self, victims, kind))))
        return out[0]

    monkeypatch.setattr(W.WriteMixin, "_victim_groups", counting)
    eng = CypherEngine(spark, Graph(GraphCatalog("jd")))
    for i in range(3):
        eng.cypher(f"UNWIND [1,2,3] AS k CREATE (:dl{i} {{k: k}})")
    # one statement touching all 3 labels
    eng.cypher("MATCH (v0:dl0) OPTIONAL MATCH (v1:dl1) OPTIONAL MATCH (v2:dl2) "
               "DELETE v0, v1, v2")
    assert eng.last_write_stats["deletedvertices"] == 9
    # fast path: ONE labid groupBy per victim frame, regardless of how
    # many labels the statement touches (AQE runs an aggregate as up
    # to 2 jobs: shuffle-map + result)
    assert len(jobs_per_call) == 1 and jobs_per_call[0] <= 2, jobs_per_call
    # repeated delete in ONE statement: exact path, <= 2 jobs per call
    jobs_per_call.clear()
    eng.cypher("UNWIND [1,2,3] AS k CREATE (:dl0 {k: k})")
    eng.cypher("MATCH (a:dl0) DELETE a DELETE a")
    assert eng.last_write_stats["deletedvertices"] == 3
    # exact path: the same groupBy after an anti-join against the ids
    # the earlier clause deleted, no label scan; still one helper call
    # per victim frame
    assert len(jobs_per_call) == 2 and all(j <= 4 for j in jobs_per_call), jobs_per_call


def _group_jobs(spark, group: str) -> list[list[str]]:
    """Stage names (call sites) of every job launched under ``group``."""
    st = spark.sparkContext.statusTracker()
    return [[st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds
             if st.getStageInfo(s) is not None]
            for j in sorted(st.getJobIdsForGroup(group))]


def _run_in_group(spark, eng, group: str, q: str) -> list[list[str]]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        eng.cypher(q)
    finally:
        sc.setJobGroup(None, None)
    return _group_jobs(spark, group)


def test_detach_delete_one_label_materializes_once(spark):
    """A one-label DETACH DELETE rewrites its label lazily and lets the
    commit materialize it once; with edge triples carried, an edge-free
    label scans no edge frame. What is left: the victim checkpoint, the
    victim groupBy and the commit checkpoint (AQE may split each in two).
    A second checkpoint of the label or an edge scan exceeds the bound."""
    eng = CypherEngine(spark, Graph(GraphCatalog("dd1")))
    eng.cypher("UNWIND range(1, 20) AS i CREATE (:a {k: i})-[:r]->(:b {k: i})")
    eng.graph.collect_stats()
    eng.cypher("UNWIND range(1, 5) AS i CREATE (:c {k: i})")
    jobs = _run_in_group(spark, eng, "dd1-detach", "MATCH (v:c) DETACH DELETE v")
    assert len(jobs) <= 6, jobs
    assert eng.last_write_stats["deletedvertices"] == 5
    assert eng.cypher("MATCH (v:c) RETURN v").count() == 0
    assert eng.cypher("MATCH ()-[e:r]->() RETURN e").count() == 20


def test_create_reads_carried_locid_mark(spark):
    """CREATE into a label the engine has written takes its locid from
    the carried mark: no max scan (the scan's call site is graph.py).
    A CREATE after deleting the highest locid does not reuse it, and
    neither does one whose first write to a loaded label was the
    DELETE (the victim aggregate raises the seed's floor)."""
    eng = CypherEngine(spark, Graph(GraphCatalog("lm")))
    eng.cypher("UNWIND range(1, 10) AS i CREATE (:m {k: i})")
    jobs = _run_in_group(spark, eng, "lm-create",
                         "UNWIND range(11, 15) AS i CREATE (:m {k: i})")
    assert not any("graph.py" in s for j in jobs for s in j), jobs

    def locids():
        return sorted(r["i"] & ((1 << 48) - 1) for r in
                      eng.cypher("MATCH (n:m) RETURN n.id AS i").collect())

    top = locids()[-1]
    assert top == 15
    eng.cypher("MATCH (n:m) WHERE n.k = 15 DELETE n")
    eng.cypher("CREATE (:m {k: 16})")
    assert locids()[-1] == top + 1

    # a graph whose frames came from outside has no mark: the first
    # CREATE scans (and the probe above sees that scan), but a DELETE
    # of the top locid before it still keeps the locid retired
    loaded = Graph(eng.graph.catalog, eng.graph.frames)
    eng2 = CypherEngine(spark, loaded)
    eng2.cypher("MATCH (n:m) WHERE n.k = 16 DELETE n")
    jobs = _run_in_group(spark, eng2, "lm-seed", "CREATE (:m {k: 17})")
    assert any("graph.py" in s for j in jobs for s in j), jobs
    got = sorted(r["i"] & ((1 << 48) - 1) for r in
                 eng2.cypher("MATCH (n:m) RETURN n.id AS i").collect())
    assert got[-1] == top + 2


def _assert_stats_match_recompute(g: Graph) -> None:
    fresh = Graph(g.catalog, g.frames)
    want_counts = fresh.collect_stats()
    want_triples = sorted(fresh.collect_edge_stats())
    assert g.label_counts() == want_counts
    assert g.edge_triples() is not None
    assert sorted(g.edge_triples()) == want_triples
    assert sorted(tuple(r) for r in g.edge_stats().collect()) == want_triples


def test_stats_after_writes_match_recompute(spark):
    """Differential: the statistics a write carries equal a recompute
    over the same frames after every statement of a scripted sequence
    (CREATE, SET, MERGE matched + created, DELETE of an edge variable,
    DETACH DELETE of vertices with edges, DROP and RENAME)."""
    eng = CypherEngine(spark, Graph(GraphCatalog("sd")))
    eng.cypher("UNWIND range(1, 4) AS i CREATE (:p {k: i})-[:r]->(:q {k: i})")
    eng.graph.collect_stats()
    script = [
        "UNWIND range(5, 7) AS i CREATE (:p {k: i})-[:r]->(:q {k: i})",
        "MATCH (a:p {k: 1}), (b:p {k: 2}) CREATE (a)-[:s]->(b), (b)-[:s]->(:t)",
        "MATCH (a:p) WHERE a.k > 5 SET a.w = a.k * 2",
        "UNWIND [3, 40, 41] AS i MERGE (v:p {k: i}) ON CREATE SET v.n = true",
        "MATCH (a:p {k: 40}), (b:q {k: 1}) MERGE (a)-[:r]->(b)",
        "MATCH (:p {k: 2})-[e:r]->() DELETE e",
        "MATCH (a:p) WHERE a.k IN [1, 5, 40] DETACH DELETE a",
        "MATCH (b:q {k: 3}) DETACH DELETE b CREATE (:q {k: 30})",
        "DROP ELABEL s",
        "ALTER ELABEL r RENAME TO r2",
        "ALTER VLABEL q RENAME TO q2",
    ]
    for q in script:
        eng.cypher(q)
        _assert_stats_match_recompute(eng.graph)
    assert {lbl for lbl, *_ in eng.graph.edge_triples()} == {"r2"}
    # a path's edges carry no (start, end) split: the whole store drops
    eng.cypher("MATCH p = (:p)-[:r2]->(:q2) DELETE p")
    assert eng.graph.label_counts() is None and eng.graph.edge_triples() is None


def test_reliable_mode_checkpoints_commit(spark, tmp_path):
    """With spark.agensgraph.checkpointDir set, the write path cuts
    through the same truncation as the iterative operators: a CREATE
    statement writes reliable checkpoint files (rdd-*) and its commit
    reads back from them."""
    e = CypherEngine(spark, Graph(GraphCatalog("ck")))
    spark.conf.set("spark.agensgraph.checkpointDir", str(tmp_path / "ck"))
    try:
        e.cypher("CREATE (:person {name: 'ana'})-[:knows]->(:person {name: 'bob'})")
        assert checkpoint_dirs(tmp_path / "ck")
    finally:
        spark.conf.unset("spark.agensgraph.checkpointDir")
    got = rows(e.cypher("MATCH (a:person)-[:knows]->(b:person) "
                        "RETURN a.name AS a, b.name AS b"), "a", "b")
    assert got == [("ana", "bob")]


@pytest.fixture
def shifted_zones(spark, monkeypatch):
    """A session time zone and a process time zone that are neither
    UTC nor each other, restored afterwards."""
    import time
    old = spark.conf.get("spark.sql.session.timeZone")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        monkeypatch.undo()
        time.tzset()


def test_sequential_merge_keeps_value_types(spark, shifted_zones):
    """The sequential MERGE fold carries each input row's values into
    the merged entity unchanged: a timestamp, a date, a decimal and an
    array read back equal to the parameters they came from, in the
    stored graph and in the statement's RETURN."""
    import datetime as dt
    from decimal import Decimal
    params = {"ts": dt.datetime(2024, 1, 15, 12, 34, 56, 123456),
              "d": dt.date(2024, 2, 29), "dec": Decimal("12345.67"),
              "arr": [1.5, -2.25]}
    want = tuple(params.values())
    e = CypherEngine(spark, Graph(GraphCatalog("seqtypes")),
                     sequential_merge_rows=8)
    ret = e.cypher(
        "WITH $ts AS ts, $d AS d, $dec AS dec, $arr AS arr "
        "UNWIND [1, 2, 3] AS i MERGE (n:v {no: i % 2}) "
        "ON CREATE SET n.ts = ts, n.d = d, n.dec = dec, n.arr = arr "
        "RETURN n.no AS no, n.ts AS ts, n.d AS d, n.dec AS dec, n.arr AS arr",
        params)
    assert rows(ret, "no", "ts", "d", "dec", "arr") == \
        [(0, *want), (1, *want), (1, *want)]
    stored = e.cypher("MATCH (n:v) RETURN n.no AS no, n.ts AS ts, n.d AS d, "
                      "n.dec AS dec, n.arr AS arr")
    assert rows(stored, "no", "ts", "d", "dec", "arr") == [(0, *want), (1, *want)]
