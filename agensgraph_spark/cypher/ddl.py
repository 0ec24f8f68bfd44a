"""Graph DDL statements (reference: gram.y:16677-17050 —
CREATE/DROP GRAPH, CREATE/DROP VLABEL/ELABEL [INHERITS], CREATE
PROPERTY INDEX, CREATE CONSTRAINT; commands in
src/backend/commands/graphcmds.c).

Spark-native shape: DDL mutates the engine's GraphStore (named graphs
→ GraphCatalog + frames), the metastore replacement for the
``ag_graph`` / ``ag_label`` system catalogs. Property indexes are
recorded as no-op hints (Parquet stats + pushdown already serve point
lookups — SURVEY.md §4.1); constraints are recorded and validated as
batch jobs (`validate_constraints`) and at write commit, replacing the
reference's per-row executor checks.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.graph import Graph

log = logging.getLogger(__name__)


@dataclass
class PropertyIndex:
    label: str
    props: list[str]
    unique: bool = False
    # index name (reference: opt_index_name, gram.y:16972; default
    # mirrors PostgreSQL's <label>_<props>_idx)
    name: str | None = None


@dataclass
class Constraint:
    label: str
    kind: str          # 'unique' | 'check'
    props: list[str] = field(default_factory=list)
    expr: str | None = None  # raw Cypher expression for 'check'
    # constraint name (reference: CREATE CONSTRAINT <name> ON ...,
    # cypher_ddl.sql:334; default <label>_constraint<n>)
    name: str | None = None


class GraphStore:
    """Multiple named graphs + the current ``graph_path`` (reference:
    the graph_path GUC, src/backend/utils/misc/guc.c:4670)."""

    def __init__(self):
        self.graphs: dict[str, Graph] = {}
        self.graph_path: str | None = None
        self.indexes: dict[str, list[PropertyIndex]] = {}
        self.constraints: dict[str, list[Constraint]] = {}
        # COMMENT ON {GRAPH|VLABEL|ELABEL} metadata (pg_description
        # analog); keyed (kind, name) within the current graph for
        # labels, ('graph', name) for graphs
        self.comments: dict[tuple[str, str], str] = {}

    # ---- graph management ----

    def create_graph(self, name: str, if_not_exists: bool = False) -> Graph:
        if name in self.graphs:
            if if_not_exists:
                return self.graphs[name]
            raise ValueError(f"graph {name!r} already exists")
        g = Graph(GraphCatalog(name))
        self.graphs[name] = g
        if self.graph_path is None:
            self.graph_path = name
        return g

    def drop_graph(self, name: str, cascade: bool = False, if_exists: bool = False) -> None:
        g = self.graphs.get(name)
        if g is None:
            if if_exists:
                return
            raise ValueError(f"graph {name!r} does not exist")
        if g.catalog.labels and not cascade:
            raise ValueError(f"graph {name!r} is not empty; use CASCADE")
        del self.graphs[name]
        self.indexes.pop(name, None)
        self.constraints.pop(name, None)
        if self.graph_path == name:
            self.graph_path = next(iter(self.graphs), None)

    def rename_graph(self, old: str, new: str) -> None:
        """ALTER GRAPH old RENAME TO new (cypher_ddl.sql:30; the
        reference renames the backing schema + ag_graph row). Ownership
        and tablespace clauses are storage-level — n/a by design."""
        if old not in self.graphs:
            raise ValueError(f"graph {old!r} does not exist")
        if new in self.graphs:
            raise ValueError(f"graph {new!r} already exists")
        g = self.graphs.pop(old)
        g.catalog.name = new
        self.graphs[new] = g
        for coll in (self.indexes, self.constraints):
            if old in coll:
                coll[new] = coll.pop(old)
        if ("graph", old) in self.comments:
            self.comments[("graph", new)] = self.comments.pop(("graph", old))
        if self.graph_path == old:
            self.graph_path = new

    def current(self) -> Graph:
        if self.graph_path is None:
            raise ValueError("no current graph; CREATE GRAPH first or SET graph_path")
        return self.graphs[self.graph_path]


_RE = {
    "create_graph": re.compile(r"^create\s+graph\s+(if\s+not\s+exists\s+)?(\w+)$", re.I),
    "drop_graph": re.compile(r"^drop\s+graph\s+(if\s+exists\s+)?(\w+)\s*(cascade)?$", re.I),
    "set_path": re.compile(r"^set\s+graph_path\s*=\s*(\w+)$", re.I),
    "create_label": re.compile(
        r"^create\s+(vlabel|elabel)\s+(if\s+not\s+exists\s+)?(\w+)"
        r"(?:\s+inherits\s*\(\s*([\w\s,]+?)\s*\))?$", re.I),
    "drop_label": re.compile(
        r"^drop\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)(\s+cascade)?$", re.I),
    # ALTER VLABEL/ELABEL (gram.y:16784-16915): every production is
    # either implemented (RENAME TO, [NO] INHERIT, OWNER TO, CLUSTER
    # ON, SET WITHOUT CLUSTER) or refused LOUDLY with its rationale
    # (heap-storage productions with no snapshot analog — see
    # alter_storage_na)
    "alter_rename": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+rename\s+to\s+(\w+)$", re.I),
    "alter_inherit": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+(no\s+)?inherit\s+(\w+)$", re.I),
    "alter_owner": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+owner\s+to\s+(\w+)$", re.I),
    "alter_cluster": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+cluster\s+on\s+(\w+)$", re.I),
    "alter_nocluster": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+set\s+without\s+cluster$", re.I),
    # storage-layer productions: SET STORAGE / SET TABLESPACE / SET
    # [UN]LOGGED / REPLICA IDENTITY / DISABLE INDEX act on the heap or
    # WAL, which immutable Parquet snapshots replace wholesale — parse
    # them so the refusal is explicit and names the production
    "alter_storage_na": re.compile(
        r"^alter\s+(vlabel|elabel)\s+(if\s+exists\s+)?(\w+)\s+"
        r"(set\s+storage\s+\w+|set\s+tablespace\s+\w+|set\s+logged|"
        r"set\s+unlogged|replica\s+identity\s+.+|disable\s+index)$", re.I),
    "create_index": re.compile(
        r"^create\s+(unique\s+)?property\s+index\s+(?:(\w+)\s+)?"
        r"on\s+(\w+)\s*\(\s*([\w\s,]+?)\s*\)$", re.I),
    "drop_index": re.compile(
        r"^drop\s+property\s+index\s+(if\s+exists\s+)?(\w+)$", re.I),
    "create_constraint": re.compile(
        r"^create\s+constraint\s+(?:(\w+)\s+)?on\s+(\w+)\s+assert\s+(.+?)(\s+is\s+unique)?$", re.I),
    "drop_constraint": re.compile(
        r"^drop\s+constraint\s+(if\s+exists\s+)?(\w+)\s+on\s+(\w+)$", re.I),
    "alter_graph_rename": re.compile(
        r"^alter\s+graph\s+(\w+)\s+rename\s+to\s+(\w+)$", re.I),
    # COMMENT ON GRAPH/VLABEL/ELABEL (cypher_ddl.sql:121-122)
    "comment_on": re.compile(
        r"^comment\s+on\s+(graph|vlabel|elabel)\s+(\w+)\s+is\s+"
        r"(?:'((?:[^']|'')*)'|(null))$", re.I),
}


def is_ddl(text: str) -> bool:
    """True when ``text`` would be handled by execute_ddl — a dry check
    with no side effects (used by EXPLAIN to reject utility statements
    the way the reference does)."""
    s = re.sub(r"\s+", " ", text.strip()).rstrip(";").strip()
    return any(p.match(s) for p in _RE.values())


def execute_ddl(store: GraphStore, text: str) -> bool:
    """Try to run ``text`` as a DDL statement against the store.
    Returns False when the text is not DDL (caller falls through to the
    query compiler)."""
    s = re.sub(r"\s+", " ", text.strip()).rstrip(";").strip()

    m = _RE["create_graph"].match(s)
    if m:
        store.create_graph(m.group(2), if_not_exists=bool(m.group(1)))
        return True
    m = _RE["drop_graph"].match(s)
    if m:
        store.drop_graph(m.group(2), cascade=bool(m.group(3)), if_exists=bool(m.group(1)))
        return True
    m = _RE["alter_graph_rename"].match(s)
    if m:
        store.rename_graph(m.group(1), m.group(2))
        return True
    m = _RE["comment_on"].match(s)
    if m:
        kind, name = m.group(1).lower(), m.group(2)
        if kind == "graph":
            if name not in store.graphs:
                raise ValueError(f"graph {name!r} does not exist")
        else:
            meta = store.current().catalog.labels.get(name)
            want = "v" if kind == "vlabel" else "e"
            if meta is None or meta.kind != want:
                raise ValueError(f"{kind} {name!r} does not exist")
        if m.group(4):  # IS NULL removes the comment
            store.comments.pop((kind, name), None)
        else:
            store.comments[(kind, name)] = m.group(3).replace("''", "'")
        return True
    m = _RE["set_path"].match(s)
    if m:
        name = m.group(1)
        if name not in store.graphs:
            raise ValueError(f"graph {name!r} does not exist")
        store.graph_path = name
        return True
    m = _RE["create_label"].match(s)
    if m:
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        parents = [p.strip() for p in m.group(4).split(",")] if m.group(4) else []
        store.current().catalog.create_label(
            m.group(3), kind, parents=parents, if_not_exists=bool(m.group(2)))
        return True
    m = _RE["drop_label"].match(s)
    if m:
        g = store.current()
        stmt_kind = "v" if m.group(1).lower() == "vlabel" else "e"
        name = m.group(3)
        meta = g.catalog.labels.get(name)
        if meta is None:
            if m.group(2):
                return True
            raise ValueError(f"label {name!r} does not exist")
        if meta.kind != stmt_kind:
            # reference cypher_ddl.out:538-545 — wrong-kind DROP errors
            # even with IF EXISTS
            verb = "DROP VLABEL" if stmt_kind == "v" else "DROP ELABEL"
            other = "edge" if meta.kind == "e" else "vertex"
            raise ValueError(f"{verb} cannot DROP {other} label")
        for victim in g.catalog.drop_label(name, cascade=bool(m.group(4))):
            g.move_label(victim, None)
        return True
    m = _RE["alter_rename"].match(s)
    if m:
        g = store.current()
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        old, new = m.group(3), m.group(4)
        meta = g.catalog.labels.get(old)
        if meta is None or meta.kind != kind:
            if m.group(2):
                log.info("graph label %r does not exist, skipping", old)
                return True
            raise ValueError(f"{m.group(1).lower()} {old!r} does not exist")
        g.catalog.rename_label(old, new)
        g.move_label(old, new)
        for coll in (store.indexes.get(store.graph_path, []),
                     store.constraints.get(store.graph_path, [])):
            for item in coll:
                if item.label == old:
                    item.label = new
        return True
    m = _RE["alter_inherit"].match(s)
    if m:
        g = store.current()
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        meta = g.catalog.labels.get(m.group(3))
        if meta is None or meta.kind != kind:
            if m.group(2):
                log.info("graph label %r does not exist, skipping", m.group(3))
                return True
            raise ValueError(f"{m.group(1).lower()} {m.group(3)!r} does not exist")
        g.catalog.set_inherit(m.group(3), m.group(5), add=not m.group(4))
        return True
    m = _RE["alter_owner"].match(s)
    if m:
        g = store.current()
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        meta = g.catalog.labels.get(m.group(3))
        if meta is None or meta.kind != kind:
            if m.group(2):
                log.info("graph label %r does not exist, skipping", m.group(3))
                return True
            raise ValueError(f"{m.group(1).lower()} {m.group(3)!r} does not exist")
        meta.owner = m.group(4)  # pg_class.relowner analog
        return True
    m = _RE["alter_cluster"].match(s)
    if m:
        g = store.current()
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        lbl, idx_name = m.group(3), m.group(4)
        meta = g.catalog.labels.get(lbl)
        if meta is None or meta.kind != kind:
            if m.group(2):
                log.info("graph label %r does not exist, skipping", lbl)
                return True
            raise ValueError(f"{m.group(1).lower()} {lbl!r} does not exist")
        idx = next((ix for ix in store.indexes.get(store.graph_path, [])
                    if ix.name == idx_name and ix.label == lbl), None)
        if idx is None:
            raise ValueError(
                f"property index {idx_name!r} on label {lbl!r} does not "
                "exist (CLUSTER ON requires the named index)")
        # the snapshot analog of PostgreSQL CLUSTER's heap rewrite:
        # record the directive; write_snapshot lays the label out
        # range-partitioned + sorted on these property columns so
        # Parquet min/max footers prune on the indexed expression
        meta.clustered_on = idx_name
        meta.cluster_keys = list(idx.props)
        return True
    m = _RE["alter_nocluster"].match(s)
    if m:
        g = store.current()
        kind = "v" if m.group(1).lower() == "vlabel" else "e"
        meta = g.catalog.labels.get(m.group(3))
        if meta is None or meta.kind != kind:
            if m.group(2):
                log.info("graph label %r does not exist, skipping", m.group(3))
                return True
            raise ValueError(f"{m.group(1).lower()} {m.group(3)!r} does not exist")
        meta.clustered_on = None
        meta.cluster_keys = []
        return True
    m = _RE["alter_storage_na"].match(s)
    if m:
        raise NotImplementedError(
            f"ALTER {m.group(1).upper()} ... {m.group(4).upper()}: this "
            "production acts on the PostgreSQL heap/WAL (storage mode, "
            "tablespace, loggedness, replica identity), which immutable "
            "Parquet snapshots replace wholesale — n/a by design "
            "(reference: gram.y:16784-16915); the logical productions "
            "RENAME TO / [NO] INHERIT / OWNER TO / CLUSTER ON / SET "
            "WITHOUT CLUSTER are all supported")
    m = _RE["create_index"].match(s)
    if m:
        # no-op planning hint: Parquet column stats + predicate pushdown
        # already serve property point-lookups (SURVEY.md §4.1)
        props = [p.strip() for p in m.group(4).split(",")]
        iname = m.group(2) or f"{m.group(3)}_{'_'.join(props)}_idx"
        if any(i.name == iname for i in store.indexes.get(store.graph_path, [])):
            raise ValueError(f"property index {iname!r} already exists")
        idx = PropertyIndex(m.group(3), props,
                            unique=bool(m.group(1)), name=iname)
        store.indexes.setdefault(store.graph_path, []).append(idx)
        if idx.unique:
            store.constraints.setdefault(store.graph_path, []).append(
                Constraint(idx.label, "unique", idx.props, name=iname))
        return True
    m = _RE["drop_index"].match(s)
    if m:
        # DROP PROPERTY INDEX [IF EXISTS] name (propertyindex.sql:89-95)
        lst = store.indexes.get(store.graph_path, [])
        hit = next((i for i in lst if i.name == m.group(2)), None)
        if hit is None:
            if m.group(1):
                log.info("property index %r does not exist, skipping",
                         m.group(2))
                return True
            raise ValueError(f"property index {m.group(2)!r} does not exist")
        lst.remove(hit)
        if hit.unique:
            # the index-backed constraint shares the index's NAME —
            # match on it, never on label+props, so a separately
            # created named CONSTRAINT on the same props survives
            cons = store.constraints.get(store.graph_path, [])
            victim = next((c for c in cons if c.name == hit.name
                           and c.label == hit.label), None)
            if victim is not None:
                cons.remove(victim)
        return True
    m = _RE["create_constraint"].match(s)
    if m:
        label, expr, uniq = m.group(2), m.group(3).strip(), bool(m.group(4))
        cons = store.constraints.setdefault(store.graph_path, [])
        if m.group(1):
            cname = m.group(1)
            if any(c.name == cname for c in cons):
                raise ValueError(f"constraint {cname!r} already exists")
        else:
            n = 1
            while any(c.name == f"{label}_constraint{n}" for c in cons):
                n += 1
            cname = f"{label}_constraint{n}"
        if uniq:
            import re as _re
            parts = [p.strip().split(".")[-1] for p in expr.split(",")]
            if all(_re.fullmatch(r"\w+", p) for p in parts):
                con = Constraint(label, "unique", parts, name=cname)
            else:
                # expression uniqueness (cypher_ddl.sql:320 —
                # ASSERT toLower(trim(id)) IS UNIQUE): validated by
                # evaluating the expression through the Cypher layer
                con = Constraint(label, "unique", expr=expr, name=cname)
        else:
            con = Constraint(label, "check", expr=expr, name=cname)
        cons.append(con)
        return True
    m = _RE["drop_constraint"].match(s)
    if m:
        # DROP CONSTRAINT <name> ON <label> (cypher_ddl.sql:343 — the
        # bare ON form without a name is a syntax error in the
        # reference too, so it simply does not match here)
        cons = store.constraints.get(store.graph_path, [])
        hit = next((c for c in cons if c.name == m.group(2)
                    and c.label == m.group(3)), None)
        if hit is None:
            if m.group(1):
                log.info("constraint %r on %r does not exist, skipping",
                         m.group(2), m.group(3))
                return True
            raise ValueError(
                f"constraint {m.group(2)!r} on {m.group(3)!r} does not exist")
        # a constraint created implicitly by CREATE UNIQUE PROPERTY
        # INDEX is index-backed: dropping only the constraint would
        # leave an index still flagged unique=True while nothing
        # enforces it. PostgreSQL likewise refuses DROP CONSTRAINT for
        # plain CREATE UNIQUE INDEX indexes — drop the index instead.
        if any(i.name == hit.name and i.unique
               for i in store.indexes.get(store.graph_path, [])):
            raise ValueError(
                f"constraint {hit.name!r} is backed by a unique property "
                f"index; use DROP PROPERTY INDEX {hit.name}")
        cons.remove(hit)
        return True
    return False


def validate_constraints(spark: SparkSession, store: GraphStore,
                         graph_name: str | None = None,
                         constraints: "list[Constraint] | None" = None) -> list[str]:
    """Batch constraint validation over current label frames — the
    snapshot-model replacement for per-row write checks. Returns a list
    of violation descriptions (empty = all constraints hold).

    ``constraints`` restricts the sweep (write-time enforcement passes
    the touched-label subset so an unrelated label's stale violation
    can never roll back a valid statement, and each write costs one
    job per TOUCHED constraint, not per constraint in the graph);
    default is every constraint of the graph (the batch audit)."""
    name = graph_name or store.graph_path
    g = store.graphs[name]
    out: list[str] = []
    todo = (store.constraints.get(name, [])
            if constraints is None else constraints)
    for con in todo:
        if con.label not in g.frames:
            continue
        df: DataFrame = g.frames[con.label]
        if con.kind == "unique" and con.expr is not None:
            # expression uniqueness: evaluate per row Cypher-side,
            # count duplicate values (SQL unique ignores NULLs)
            from agensgraph_spark.cypher.compiler import CypherEngine
            eng = CypherEngine(spark, g)
            props = list(g.catalog.labels[con.label].props)
            proj = ", ".join(f"x.{p} AS {p}" for p in props) or "x.id AS id"
            dup = eng.cypher(
                f"MATCH (x:ONLY {con.label}) WITH {proj} "
                f"WITH {con.expr} AS __u WHERE __u IS NOT NULL "
                f"WITH __u, count(*) AS n WHERE n > 1 "
                f"RETURN count(*) AS c").collect()[0]["c"]
            if dup:
                out.append(
                    f"unique({con.expr}) violated on label {con.label!r}")
        elif con.kind == "unique":
            present = [p for p in con.props if p in df.columns]
            if len(present) != len(con.props):
                continue
            dups = (df.groupBy(*present).count().filter(F.col("count") > 1).limit(1).collect())
            if dups:
                out.append(f"unique({', '.join(con.props)}) violated on label {con.label!r}")
        else:
            # check constraints run through the Cypher expression layer;
            # bare property names in the ASSERT expression are projected
            # into scope first (the reference resolves them against the
            # label tuple the same way)
            from agensgraph_spark.cypher.compiler import CypherEngine
            eng = CypherEngine(spark, g)
            props = list(g.catalog.labels[con.label].props)
            proj = ", ".join(f"x.{p} AS {p}" for p in props) or "x.id AS id"
            bad = eng.cypher(
                f"MATCH (x:ONLY {con.label}) WITH {proj} "
                f"WHERE NOT ({con.expr}) RETURN count(*) AS n").collect()[0]["n"]
            if bad:
                out.append(f"check ({con.expr}) violated on {bad} rows of label {con.label!r}")
    return out
