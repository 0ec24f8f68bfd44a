"""Graph DDL surface (reference corpus: cypher_ddl.sql — graphs,
labels, inheritance, property indexes, constraints; cypher_func.sql —
labels() over inheritance DAGs)."""

import pytest
from conftest import jobs_in

from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.cypher.ddl import validate_constraints


@pytest.fixture
def eng(spark):
    e = CypherEngine(spark)
    e.cypher("CREATE GRAPH g1")
    return e


def test_create_and_drop_graph(eng):
    eng.cypher("CREATE GRAPH g2")
    assert set(eng.store.graphs) == {"g1", "g2"}
    assert eng.store.graph_path == "g1"
    eng.cypher("SET graph_path = g2")
    assert eng.store.graph_path == "g2"
    eng.cypher("DROP GRAPH g2")
    assert set(eng.store.graphs) == {"g1"}
    eng.cypher("CREATE GRAPH IF NOT EXISTS g1")  # no error
    with pytest.raises(ValueError):
        eng.cypher("CREATE GRAPH g1")


def test_label_ddl_and_inheritance_scan(eng):
    eng.cypher("CREATE VLABEL animal")
    eng.cypher("CREATE VLABEL dog INHERITS (animal)")
    eng.cypher("CREATE (:animal {name: 'generic'}), (:dog {name: 'rex'})")
    # parent scan sees the child subtree (AgInheritanceDependancy)
    names = {r["n"] for r in eng.cypher("MATCH (a:animal) RETURN a.name AS n").collect()}
    assert names == {"generic", "rex"}
    only = {r["n"] for r in eng.cypher("MATCH (a:ONLY animal) RETURN a.name AS n").collect()}
    assert only == {"generic"}
    labels = eng.cypher("MATCH (d:dog) RETURN labels(d) AS l").collect()[0]["l"]
    assert labels == ["dog", "animal"]


def test_anonymous_labeled_endpoint_inherits(eng):
    """An anonymous labeled endpoint in the middle of a pattern must
    expand descendants exactly like a named one — the lightweight
    Binding stores descendant-expanded labels so downstream src-side
    labid pruning keeps child-label vertices (reference: inheritance
    scan semantics, graphcmds.c:241-303; ONLY tests cypher_dml.sql)."""
    eng.cypher("CREATE VLABEL animal")
    eng.cypher("CREATE VLABEL dog INHERITS (animal)")
    eng.cypher("CREATE VLABEL person")
    eng.cypher("CREATE VLABEL food")
    eng.cypher("CREATE ELABEL owns")
    eng.cypher("CREATE ELABEL eats")
    eng.cypher("CREATE (:person {name: 'ann'})-[:owns]->(:dog {name: 'rex'})")
    eng.cypher("MATCH (d:dog) CREATE (d)-[:eats]->(:food {name: 'kibble'})")
    named = eng.cypher(
        "MATCH (a:person)-[:owns]->(b:animal)-[:eats]->(c:food) "
        "RETURN a.name AS an, c.name AS cn").collect()
    anon = eng.cypher(
        "MATCH (a:person)-[:owns]->(:animal)-[:eats]->(c:food) "
        "RETURN a.name AS an, c.name AS cn").collect()
    assert [tuple(r) for r in named] == [("ann", "kibble")]
    assert [tuple(r) for r in anon] == [("ann", "kibble")]
    # ONLY on the anonymous endpoint still excludes the child label
    only = eng.cypher(
        "MATCH (a:person)-[:owns]->(:ONLY animal)-[:eats]->(c:food) "
        "RETURN a.name AS an").collect()
    assert only == []


def test_empty_label_scans_empty(eng):
    eng.cypher("CREATE VLABEL ghost")
    assert eng.cypher("MATCH (gg:ghost) RETURN gg").count() == 0


def test_drop_label_behaviors(eng):
    eng.cypher("CREATE VLABEL a1")
    eng.cypher("CREATE VLABEL b1 INHERITS (a1)")
    with pytest.raises(ValueError, match="children"):
        eng.cypher("DROP VLABEL a1")
    eng.cypher("DROP VLABEL b1")
    eng.cypher("DROP VLABEL a1")
    with pytest.raises(ValueError):
        eng.cypher("DROP VLABEL a1")
    eng.cypher("DROP VLABEL IF EXISTS a1")  # no error


def test_property_index_is_recorded_noop(eng):
    eng.cypher("CREATE VLABEL person")
    eng.cypher("CREATE PROPERTY INDEX ON person (name)")
    idx = eng.store.indexes["g1"]
    assert idx[0].label == "person" and idx[0].props == ["name"] and not idx[0].unique


def test_unique_constraint_enforced_at_write(eng, spark):
    """A violating CREATE aborts at commit and the graph stays as it
    was (reference: unique index insert error) — and the batch sweep
    still reports violations injected outside the write path."""
    import pytest
    eng.cypher("CREATE VLABEL u1")
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ON u1 (email)")
    eng.cypher("CREATE (:u1 {email: 'a@x'}), (:u1 {email: 'b@x'})")
    assert validate_constraints(spark, eng.store) == []
    with pytest.raises(ValueError, match="unique"):
        eng.cypher("CREATE (:u1 {email: 'a@x'})")
    n = eng.cypher("MATCH (x:u1) RETURN count(*) AS n").collect()[0]["n"]
    assert n == 2  # rolled back
    # frames mutated outside the write pipeline are caught by the sweep
    g = eng.graph
    g.set_label_df("u1", g.label_df("u1").unionByName(g.label_df("u1")))
    viol = validate_constraints(spark, eng.store)
    assert len(viol) == 1 and "unique" in viol[0]


def test_check_constraint_enforced_at_write(eng, spark):
    import pytest
    eng.cypher("CREATE VLABEL acct")
    eng.cypher("CREATE (:acct {bal: 10}), (:acct {bal: 5})")
    eng.cypher("CREATE CONSTRAINT ON acct ASSERT bal > 0")
    assert validate_constraints(spark, eng.store) == []
    with pytest.raises(ValueError, match="check"):
        eng.cypher("CREATE (:acct {bal: -3})")
    assert eng.cypher("MATCH (a:acct) RETURN count(*) AS n").collect()[0]["n"] == 2


def test_alter_label_rename(eng):
    """ALTER VLABEL ... RENAME TO (gram.y:16784): data survives under
    the new name, graphids are stable, old name is gone."""
    eng.cypher("CREATE VLABEL renme")
    eng.cypher("CREATE (:renme {k: 1}), (:renme {k: 2})")
    before = {r["i"] for r in eng.cypher(
        "MATCH (x:renme) RETURN id(x) AS i").collect()}
    eng.cypher("ALTER VLABEL renme RENAME TO renamed")
    after = {r["i"] for r in eng.cypher(
        "MATCH (x:renamed) RETURN id(x) AS i").collect()}
    assert after == before and len(after) == 2
    import pytest as _pt
    with _pt.raises(Exception):
        eng.cypher("MATCH (x:renme) RETURN x.k AS k").collect()


def test_alter_label_inherit(eng):
    """ALTER VLABEL ... [NO] INHERIT: the inheritance scan follows the
    altered hierarchy (graphcmds.c AgInheritanceDependancy)."""
    eng.cypher("CREATE VLABEL animal")
    eng.cypher("CREATE VLABEL dog2")
    eng.cypher("CREATE (:animal {k: 1}), (:dog2 {k: 2})")
    assert eng.cypher("MATCH (x:animal) RETURN count(*) AS n").collect()[0]["n"] == 1
    eng.cypher("ALTER VLABEL dog2 INHERIT animal")
    assert eng.cypher("MATCH (x:animal) RETURN count(*) AS n").collect()[0]["n"] == 2
    eng.cypher("ALTER VLABEL dog2 NO INHERIT animal")
    assert eng.cypher("MATCH (x:animal) RETURN count(*) AS n").collect()[0]["n"] == 1


def test_alter_inherit_rejects_cycle(eng):
    eng.cypher("CREATE VLABEL ca")
    eng.cypher("CREATE VLABEL cb INHERITS (ca)")
    import pytest as _pt
    with _pt.raises(Exception, match="cycle"):
        eng.cypher("ALTER VLABEL ca INHERIT cb")


def test_alter_graph_rename(spark):
    """ALTER GRAPH ... RENAME TO (cypher_ddl.sql:30-32): data, path,
    and metadata follow the new name."""
    from agensgraph_spark.cypher.compiler import CypherEngine
    eng = CypherEngine(spark)
    eng.cypher("CREATE GRAPH rn_a")
    eng.cypher("CREATE VLABEL rv")
    eng.cypher("CREATE (:rv {x: 1})")
    eng.cypher("ALTER GRAPH rn_a RENAME TO rn_b")
    assert eng.store.graph_path == "rn_b"
    assert [r["x"] for r in eng.cypher("MATCH (n:rv) RETURN n.x AS x").collect()] == [1]
    eng.cypher("ALTER GRAPH rn_b RENAME TO rn_a")
    import pytest as _pt
    with _pt.raises(ValueError):
        eng.cypher("ALTER GRAPH nope RENAME TO x")


def test_comment_on(spark):
    """COMMENT ON GRAPH/VLABEL/ELABEL (cypher_ddl.sql:121-122) records
    pg_description-style metadata; IS NULL removes it."""
    from agensgraph_spark.cypher.compiler import CypherEngine
    eng = CypherEngine(spark)
    eng.cypher("CREATE GRAPH cmt")
    eng.cypher("CREATE VLABEL cv")
    eng.cypher("COMMENT ON GRAPH cmt IS 'a graph for regression tests'")
    eng.cypher("COMMENT ON VLABEL cv IS 'it''s a label'")
    assert eng.store.comments[("graph", "cmt")] == "a graph for regression tests"
    assert eng.store.comments[("vlabel", "cv")] == "it's a label"
    eng.cypher("COMMENT ON VLABEL cv IS NULL")
    assert ("vlabel", "cv") not in eng.store.comments
    # SET graph_path still routes (regression for the dispatch chain)
    eng.cypher("CREATE GRAPH cmt2")
    eng.cypher("SET graph_path = cmt")
    assert eng.store.graph_path == "cmt"


def test_drop_label_wrong_kind_errors(engine):
    """cypher_ddl.out:538-545: DROP VLABEL on an edge label (and vice
    versa) errors even with IF EXISTS."""
    import pytest
    engine.cypher("CREATE VLABEL wk_v")
    engine.cypher("CREATE ELABEL wk_e")
    with pytest.raises(ValueError, match="cannot DROP edge label"):
        engine.cypher("DROP VLABEL wk_e")
    with pytest.raises(ValueError, match="cannot DROP vertex label"):
        engine.cypher("DROP ELABEL IF EXISTS wk_v")


def test_alter_if_exists_skips_missing(engine):
    """cypher_ddl.out:518-519: ALTER ... IF EXISTS on a missing label
    skips with a notice instead of erroring."""
    engine.cypher("ALTER VLABEL IF EXISTS nope_v RENAME TO also_nope")
    engine.cypher("ALTER ELABEL IF EXISTS nope_e INHERIT whatever")
    import pytest
    with pytest.raises(ValueError):
        engine.cypher("ALTER VLABEL nope_v RENAME TO x")


def test_drop_label_cascade_drops_children(engine):
    """cypher_ddl.out:565-566 'drop cascades to vlabel v1': CASCADE
    drops the dependent subtree; without it the drop refuses."""
    import pytest
    engine.cypher("CREATE VLABEL casc_p")
    engine.cypher("CREATE VLABEL casc_c INHERITS (casc_p)")
    engine.cypher("CREATE VLABEL casc_g INHERITS (casc_c)")
    with pytest.raises(ValueError, match="CASCADE"):
        engine.cypher("DROP VLABEL casc_p")
    engine.cypher("DROP VLABEL casc_p CASCADE")
    assert not {"casc_p", "casc_c", "casc_g"} & set(engine.graph.catalog.labels)


def test_constraint_scope_untouched_label_never_rolls_back(eng, spark):
    """CREATE CONSTRAINT never validates pre-existing data, so a stale
    violation on label B must NOT roll back a later valid write to
    label A — write-time enforcement sweeps only the TOUCHED labels'
    constraints (the batch sweep still reports B)."""
    eng.cypher("CREATE VLABEL la")
    eng.cypher("CREATE VLABEL lb")
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ON la (k)")
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ON lb (k)")
    eng.cypher("CREATE (:lb {k: 1})")
    # inject a duplicate into lb OUTSIDE the write pipeline (a stale
    # violation, as if the constraint was declared after bad data)
    g = eng.graph
    g.set_label_df("lb", g.label_df("lb").unionByName(g.label_df("lb")))
    # the untouched violation must not block a valid write to la ...
    eng.cypher("CREATE (:la {k: 10})")
    assert eng.cypher("MATCH (x:la) RETURN count(*) AS n").collect()[0]["n"] == 1
    # ... while a write that TOUCHES lb still trips its constraint
    with pytest.raises(ValueError, match="unique"):
        eng.cypher("CREATE (:lb {k: 2})")
    # and the whole-graph batch audit still surfaces the stale violation
    viol = validate_constraints(spark, eng.store)
    assert len(viol) == 1 and "lb" in viol[0]


def test_constraint_jobs_scale_with_touched_labels_only(eng, spark):
    """Perf contract: a write's constraint-validation job count follows
    the TOUCHED labels' constraints, not the graph's total constraint
    count — 5 extra constrained-but-untouched labels add zero jobs.
    Two graphs with IDENTICAL jt state (so the write plans match),
    differing only in untouched constrained labels."""
    for gname, extra in (("ga", 0), ("gb", 5)):
        eng.cypher(f"CREATE GRAPH {gname}")
        eng.cypher(f"SET graph_path = {gname}")
        eng.cypher("CREATE VLABEL jt")
        eng.cypher("CREATE UNIQUE PROPERTY INDEX ON jt (k)")
        eng.cypher("CREATE (:jt {k: 0})")
        for i in range(extra):
            eng.cypher(f"CREATE VLABEL ju{i}")
            eng.cypher(f"CREATE UNIQUE PROPERTY INDEX ON ju{i} (k)")
            eng.cypher(f"CREATE (:ju{i} {{k: 1}})")
    # min-of-2 per graph: one-time lazy JVM/codegen init can land an
    # extra job in whichever group runs first — the steady-state write
    # is what the contract bounds. Writes use distinct k values so the
    # unique constraint stays satisfied, and the SECOND write of each
    # graph sees one extra committed row than the other graph's second
    # write — identical plan SHAPE, which is what drives job counts.
    def measure(gname, k0):
        eng.cypher(f"SET graph_path = {gname}")
        return min(
            jobs_in(spark, lambda: eng.cypher("CREATE (:jt {k: %d})" % k))
            for k in (k0, k0 + 1))

    baseline = measure("ga", 10)
    with_untouched = measure("gb", 10)
    assert with_untouched == baseline, (baseline, with_untouched)


def test_property_index_names_and_drop(eng):
    """CREATE PROPERTY INDEX takes an optional name (gram.y:16972
    opt_index_name; default <label>_<props>_idx) and DROP PROPERTY
    INDEX [IF EXISTS] <name> removes it (propertyindex.sql:89-95) —
    dropping a UNIQUE property index also lifts its constraint."""
    eng.cypher("CREATE VLABEL pidx")
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ON pidx (k)")
    eng.cypher("CREATE (:pidx {k: 1})")
    with pytest.raises(ValueError, match="unique"):
        eng.cypher("CREATE (:pidx {k: 1})")
    with pytest.raises(ValueError, match="already exists"):
        eng.cypher("CREATE PROPERTY INDEX pidx_k_idx ON pidx (k)")
    eng.cypher("DROP PROPERTY INDEX pidx_k_idx")      # default-derived name
    eng.cypher("CREATE (:pidx {k: 1})")               # constraint lifted
    assert eng.cypher("MATCH (v:pidx) RETURN count(*) AS c").collect()[0]["c"] == 2
    eng.cypher("CREATE PROPERTY INDEX my_idx ON pidx (k)")
    eng.cypher("DROP PROPERTY INDEX IF EXISTS my_idx")
    eng.cypher("DROP PROPERTY INDEX IF EXISTS my_idx")  # idempotent
    with pytest.raises(ValueError, match="does not exist"):
        eng.cypher("DROP PROPERTY INDEX my_idx")


def test_constraint_names_and_drop(eng):
    """CREATE CONSTRAINT [name] ON label ASSERT ... and DROP
    CONSTRAINT <name> ON <label> (cypher_ddl.sql:334-343; the bare
    un-named DROP ... ON form is a syntax error in the reference and
    does not parse here either)."""
    eng.cypher("CREATE VLABEL ncv")
    eng.cypher("CREATE CONSTRAINT pos_k ON ncv ASSERT k > 0")
    eng.cypher("CREATE (:ncv {k: 1})")
    with pytest.raises(ValueError, match="constraint"):
        eng.cypher("CREATE (:ncv {k: -5})")
    eng.cypher("DROP CONSTRAINT pos_k ON ncv")
    eng.cypher("CREATE (:ncv {k: -5})")          # constraint lifted
    # default-derived name
    eng.cypher("CREATE CONSTRAINT ON ncv ASSERT k IS NOT NULL")
    eng.cypher("DROP CONSTRAINT ncv_constraint1 ON ncv")
    with pytest.raises(ValueError, match="does not exist"):
        eng.cypher("DROP CONSTRAINT nope ON ncv")
    eng.cypher("DROP CONSTRAINT IF EXISTS nope ON ncv")  # no error


def test_index_constraint_linkage_is_name_based(eng):
    """An index-backed unique constraint is linked to its index BY
    NAME: dropping the index must not delete a separately created
    named CONSTRAINT on the same props, and DROP CONSTRAINT on an
    index-backed constraint is refused (PostgreSQL refuses DROP
    CONSTRAINT for plain CREATE UNIQUE INDEX indexes too)."""
    eng.cypher("CREATE VLABEL ixl")
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ixl_u ON ixl (k)")
    eng.cypher("CREATE CONSTRAINT sep_u ON ixl ASSERT k IS UNIQUE")
    # dropping the index removes only ITS constraint; sep_u survives
    eng.cypher("DROP PROPERTY INDEX ixl_u")
    eng.cypher("CREATE (:ixl {k: 1})")
    with pytest.raises(ValueError, match="unique"):
        eng.cypher("CREATE (:ixl {k: 1})")      # sep_u still enforced
    eng.cypher("DROP CONSTRAINT sep_u ON ixl")
    eng.cypher("CREATE (:ixl {k: 1})")          # now lifted
    # index-backed constraint refuses DROP CONSTRAINT
    eng.cypher("CREATE UNIQUE PROPERTY INDEX ixl_u2 ON ixl (m)")
    with pytest.raises(ValueError, match="backed by a unique property index"):
        eng.cypher("DROP CONSTRAINT ixl_u2 ON ixl")
    eng.cypher("DROP PROPERTY INDEX ixl_u2")    # the sanctioned path


def test_expression_unique_constraint(eng):
    """ASSERT <expression> IS UNIQUE (cypher_ddl.sql:320 —
    toLower(trim(id))): duplicates under the expression roll the
    statement back; NULL expression values are exempt (SQL unique)."""
    eng.cypher("CREATE VLABEL xuc")
    eng.cypher("CREATE CONSTRAINT ON xuc ASSERT toLower(trim(id)) IS UNIQUE")
    eng.cypher("CREATE (:xuc {id: 'agens'})")
    with pytest.raises(ValueError, match="unique"):
        eng.cypher("CREATE (:xuc {id: ' AGENS '})")
    eng.cypher("CREATE (:xuc {id: 'graph'})")
    eng.cypher("CREATE (:xuc {})")
    eng.cypher("CREATE (:xuc {})")     # multiple NULLs allowed
    assert eng.cypher("MATCH (v:xuc) RETURN count(*) AS c").collect()[0]["c"] == 4


def test_alter_label_owner_and_cluster(eng, tmp_path):
    """ALTER VLABEL OWNER TO / CLUSTER ON / SET WITHOUT CLUSTER
    (gram.y:16784-16915): owner is pure catalog metadata; CLUSTER ON
    records the named index's props as the snapshot layout directive
    and write_snapshot lays the label out range-partitioned+sorted on
    them; both survive a catalog save/load roundtrip."""
    eng.cypher("CREATE VLABEL item")
    eng.cypher("CREATE (:item {price: 1, sku: 'a'}), (:item {price: 2, sku: 'b'})")
    cat = eng.store.current().catalog

    eng.cypher("ALTER VLABEL item OWNER TO analyst")
    assert cat.labels["item"].owner == "analyst"

    # CLUSTER ON requires the named index to exist on that label
    with pytest.raises(ValueError, match="index"):
        eng.cypher("ALTER VLABEL item CLUSTER ON nope_idx")
    eng.cypher("CREATE PROPERTY INDEX price_idx ON item (price)")
    eng.cypher("ALTER VLABEL item CLUSTER ON price_idx")
    assert cat.labels["item"].clustered_on == "price_idx"
    assert cat.labels["item"].cluster_keys == ["price"]

    # snapshot honors the directive and the catalog roundtrips it
    root = str(tmp_path / "snap")
    eng.store.current().write_snapshot(root)
    from agensgraph_spark.catalog import GraphCatalog
    loaded = GraphCatalog.load(root, cat.name)
    assert loaded.labels["item"].owner == "analyst"
    assert loaded.labels["item"].clustered_on == "price_idx"
    assert loaded.labels["item"].cluster_keys == ["price"]

    eng.cypher("ALTER VLABEL item SET WITHOUT CLUSTER")
    assert cat.labels["item"].clustered_on is None
    assert cat.labels["item"].cluster_keys == []

    # IF EXISTS tolerates a missing label, plain form errors
    eng.cypher("ALTER VLABEL IF EXISTS ghost OWNER TO analyst")
    with pytest.raises(ValueError):
        eng.cypher("ALTER VLABEL ghost OWNER TO analyst")


def test_alter_label_storage_productions_refused_loudly(eng):
    """The heap/WAL productions (SET STORAGE/TABLESPACE/[UN]LOGGED,
    REPLICA IDENTITY, DISABLE INDEX) parse and refuse with the n/a
    rationale — never a silent no-op, never an unparsed fall-through."""
    eng.cypher("CREATE VLABEL item")
    for stmt in ("ALTER VLABEL item SET STORAGE external",
                 "ALTER VLABEL item SET TABLESPACE fast_ssd",
                 "ALTER VLABEL item SET LOGGED",
                 "ALTER VLABEL item SET UNLOGGED",
                 "ALTER VLABEL item REPLICA IDENTITY FULL",
                 "ALTER VLABEL item DISABLE INDEX"):
        with pytest.raises(NotImplementedError, match="snapshot"):
            eng.cypher(stmt)


def test_drop_and_rename_keep_statistics(spark):
    """DROP ELABEL and ALTER ... RENAME carry the collected statistics
    over: edge_stats() and label_counts() read as a fresh recompute
    would (a stale name would read a renamed big label as 0 rows and
    broadcast-hint it)."""
    from agensgraph_spark.catalog import GraphCatalog
    from agensgraph_spark.graph import Graph
    from agensgraph_spark.graphid import make_graphid

    cat = GraphCatalog("ds")
    cat.create_vlabel("a", labid=1)
    cat.create_vlabel("b", labid=2)
    cat.create_elabel("r", labid=3)
    cat.create_elabel("q", labid=4)
    a = [make_graphid(1, i) for i in range(1, 4)]
    b = [make_graphid(2, i) for i in range(1, 4)]
    g = Graph(cat)
    g.set_label_df("a", spark.createDataFrame([(i,) for i in a], "id long"))
    g.set_label_df("b", spark.createDataFrame([(i,) for i in b], "id long"))
    g.set_label_df("r", spark.createDataFrame(
        [(make_graphid(3, n + 1), a[n], b[n]) for n in range(3)],
        "id long, start long, end long"))
    g.set_label_df("q", spark.createDataFrame(
        [(make_graphid(4, n + 1), a[n], b[n]) for n in range(2)],
        "id long, start long, end long"))
    g.collect_stats()
    eng = CypherEngine(spark, g)
    eng.cypher("DROP ELABEL q")
    eng.cypher("ALTER ELABEL r RENAME TO r2")
    got = sorted(tuple(r) for r in eng.graph.edge_stats().collect())
    assert got == [("r2", 1, 2, 3)]
    assert eng.graph.label_counts() == {"a": 3, "b": 3, "r2": 3}
    fresh = Graph(eng.graph.catalog, eng.graph.frames)
    assert eng.graph.label_counts() == fresh.collect_stats()
    assert sorted(eng.graph.edge_triples()) == sorted(fresh.collect_edge_stats())
    # a CREATE into the renamed label continues its locids
    eng.cypher("CREATE (:a {k: 1})-[:r2]->(:b {k: 1})")
    ids = {r["i"] & ((1 << 48) - 1)
           for r in eng.cypher("MATCH ()-[e:r2]->() RETURN e.id AS i").collect()}
    assert ids == {1, 2, 3, 4}
