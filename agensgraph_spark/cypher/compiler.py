"""Cypher → DataFrame compiler.

Each clause folds over its predecessor's DataFrame — the direct analog
of the reference's design where every Cypher clause wraps its
predecessor in a subquery RTE and layers itself on top (reference:
src/include/nodes/parsenodes.h:3854-3866, src/backend/parser/
parse_graph.c:5678 transformClauseImpl). Because the whole pipeline is
declarative, Catalyst flattens it into one optimized plan, exactly as
the reference's planner collapses the clause-chain via
pull_up_subqueries (src/backend/optimizer/prep/prepjointree.c:685).

MATCH compilation follows transformComponents semantics
(parse_graph.c:1579): patterns decompose into label scans joined on
``e.start = a.id AND e.end = b.id``; undirected/multi-type edges scan a
unioned edge relation both ways (genEdgeUnion, parse_graph.c:2100);
edge-uniqueness inequality quals are added between every pair of edges
in one MATCH (addQualUniqueEdges, parse_graph.c:2972).

Scale-minded choices:
- anonymous, unconstrained nodes are never joined (edge endpoints are
  vertices by construction — the analog of the reference's
  future-vertex deferral, parse_graph.c:3487 resolve_future_vertex);
- labeled-but-unreferenced nodes become labid *range predicates on the
  edge's endpoint id* (labels live in the id's high bits), avoiding the
  vertex join entirely;
- property/label filters are applied at scan time so they reach the
  Parquet reader as pushed filters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.cypher import ast as A
from agensgraph_spark.cypher.expressions import ExprCompiler, has_agg
from agensgraph_spark.cypher.parser import parse_cypher
from agensgraph_spark.cypher.scope import Binding, Scope
from agensgraph_spark.cypher.writes import WriteContext, WriteMixin
from agensgraph_spark.graph import Graph, prop_col_name
from agensgraph_spark.graphid import LOCID_BITS
from agensgraph_spark.operators import _superstep as S
from agensgraph_spark.operators import paths as P
from agensgraph_spark.session import local_frame

WRITE_CLAUSES = (A.Create, A.Merge, A.SetClause, A.RemoveClause, A.Delete)

# temp-view sequence for hoisted scalar subqueries (unique per process)
import itertools as _itertools

_SUBQ_IDS = _itertools.count(1)


def _sort_col(name: str, asc: bool, nulls: "str | None") -> Column:
    """ORDER BY direction + null placement (reference:
    gram.y:18957-18967 cypher_sort_item opt_nulls_order). An
    unspecified null order follows PostgreSQL — NULLS LAST when
    ascending, NULLS FIRST when descending — which is the OPPOSITE of
    Spark's default, so the placement is always written explicitly."""
    c = F.col(name)
    first = (nulls == "first") if nulls else (not asc)
    if asc:
        return c.asc_nulls_first() if first else c.asc_nulls_last()
    return c.desc_nulls_first() if first else c.desc_nulls_last()


@dataclass
class EdgeRef:
    """An edge (or VLE edge-array) bound in the current MATCH, for
    uniqueness quals."""
    var: str
    is_array: bool


class CypherEngine:
    """Session-level entry point: ``engine.cypher(text) -> DataFrame``.
    Hop joins carry no hints: Spark picks broadcast sides from the label
    scans' size estimates (static plan and AQE)."""

    def __init__(
        self,
        spark: SparkSession,
        graph: Graph | None = None,
        tables: dict[str, DataFrame] | None = None,
        vle_max_hops: int = P.DEFAULT_MAX_HOPS,
        sequential_merge_rows: int = 0,
    ):
        from agensgraph_spark.cypher.ddl import GraphStore
        self.spark = spark
        self.store = GraphStore()
        if graph is not None:
            self.store.graphs[graph.catalog.name] = graph
            self.store.graph_path = graph.catalog.name
        self.tables = dict(tables or {})
        self.vle_max_hops = vle_max_hops
        # opt-in OLTP-fidelity MERGE: when > 0 and a MERGE clause's
        # input frame has at most this many rows, the clause folds
        # row-by-row on the driver so later input rows observe earlier
        # rows' ON MATCH/ON CREATE effects within the SAME clause
        # (reference: cypher_eager.sql:112-156 per-row accumulation).
        # Default 0 = batch snapshot semantics (documented deviation).
        self.sequential_merge_rows = sequential_merge_rows
        self.last_write_stats: dict[str, int] = {
            "insertedvertices": 0, "insertededges": 0,
            "deletedvertices": 0, "deletededges": 0, "updatedproperties": 0}
        self.udfs: dict[str, object] = {}
        # names registered via register_aggregate — the projection
        # compiler treats calls to these as aggregate expressions
        self.udaf_names: set[str] = set()
        self.procedures: dict[str, object] = {}

    @property
    def graph(self) -> Graph | None:
        """The current graph (graph_path analog)."""
        if self.store.graph_path is None:
            return None
        return self.store.graphs.get(self.store.graph_path)

    @graph.setter
    def graph(self, g: Graph | None) -> None:
        if g is None:
            return
        name = self.store.graph_path or g.catalog.name
        self.store.graphs[name] = g
        self.store.graph_path = name

    def cypher(self, text: str, params: dict | None = None) -> DataFrame:
        from agensgraph_spark.cypher.ddl import execute_ddl
        if execute_ddl(self.store, text):
            return local_frame(self.spark, [("ok",)], "status string")
        uq = parse_cypher(text)
        leaves = uq.leaves if isinstance(uq, A.SetOp) else [uq]
        has_write = any(isinstance(c, WRITE_CLAUSES)
                        for part in leaves for c in part.clauses)
        if has_write:
            if isinstance(uq, A.SetOp):
                raise ValueError(
                    "write statements cannot combine with set operations")
            return self._execute_write(uq, params or {})
        return self._compile_setop(uq, params or {})

    def _compile_setop(self, node, params: dict) -> DataFrame:
        """UNION / INTERSECT / EXCEPT [ALL] over independently compiled
        single queries (reference: gram.y:17089-17094; INTERSECT binds
        tighter, same-level ops associate left). UNION aligns columns by
        name; INTERSECT/EXCEPT reorder the right side to the left's
        column order, then Spark's native set operators provide SQL
        semantics (NULLs compare equal, ALL keeps bag multiplicity)."""
        if not isinstance(node, A.SetOp):
            qc = QueryCompiler(self, params)
            return qc.compile(node)
        left = self._compile_setop(node.left, params)
        right = self._compile_setop(node.right, params)
        if node.op == "union":
            out = left.unionByName(right)
            # non-ALL dedups the accumulated result ONLY — a later
            # UNION ALL must keep its duplicates
            return out if node.all else out.dropDuplicates()
        if sorted(left.columns) != sorted(right.columns):
            raise ValueError(
                f"{node.op.upper()} operands return different columns: "
                f"{left.columns} vs {right.columns}")
        right = right.select(*left.columns)
        if node.op == "intersect":
            return left.intersectAll(right) if node.all else left.intersect(right)
        return left.exceptAll(right) if node.all else left.subtract(right)

    def _execute_write(self, part: A.Query, params: dict) -> DataFrame:
        """Run a writing statement: compile the clause pipeline (writes
        swap new immutable frames into a working Graph), then commit the
        working snapshot as this engine's graph. Returns the trailing
        RETURN's rows, or a one-row write-stats DataFrame (the analog of
        get_last_graph_write_stats(), reference: cypher_funcs.c:1186)."""
        qc = QueryCompiler(self, params)
        returns_rows = part.clauses and isinstance(part.clauses[-1], A.Projection)
        df = qc.compile(part)
        if qc.wctx is not None:
            # cap partitions BEFORE materializing: a create pipeline
            # carries the scanned frame's partitioning, so the committed
            # union would otherwise DOUBLE its partition count on every
            # statement (128 → 256 → 512 ... measured exponential
            # per-statement slowdown). coalesce is narrow; a no-op when
            # already at or below the target.
            spread = self.spark.sparkContext.defaultParallelism
            for lbl in qc.wctx.touched:
                qc.wctx.graph.frames[lbl] = S.truncate(
                    qc.wctx.graph.frames[lbl].coalesce(spread))
            # constraints gate the COMMIT (reference: unique index /
            # check constraint errors abort the inserting statement,
            # cypher_dml.sql:1036-1040): the working graph is simply
            # discarded on violation — immutable snapshots make the
            # rollback free. Only constraints on touched labels run, so
            # unconstrained writes pay nothing.
            self._enforce_constraints(qc.wctx)
            self.graph = qc.wctx.graph
            self.last_write_stats = qc.wctx.stats.as_dict()
        if returns_rows:
            return df
        stats = self.last_write_stats
        return local_frame(self.spark, [tuple(stats.values())],
                           ", ".join(f"{k} long" for k in stats))

    def _enforce_constraints(self, wctx) -> None:
        """Raise on unique/check violations over the TOUCHED labels of
        a not-yet-committed working graph (write-time enforcement; the
        whole-graph batch sweep stays available as
        ddl.validate_constraints)."""
        from agensgraph_spark.cypher.ddl import validate_constraints
        name = self.store.graph_path
        cons = [c for c in self.store.constraints.get(name, [])
                if c.label in wctx.touched]
        if not cons:
            return
        saved = self.store.graphs.get(name)
        try:
            self.store.graphs[name] = wctx.graph
            problems = validate_constraints(self.spark, self.store, name,
                                            constraints=cons)
        finally:
            if saved is not None:
                self.store.graphs[name] = saved
        if problems:
            raise ValueError(
                "constraint violation, statement rolled back: "
                + "; ".join(problems))

    def sql(self, text: str) -> DataFrame:
        """Spark SQL with the engine's registrations in scope.
        PostgreSQL-dialect notes for reference users: DISTINCT ON is
        the row_number-window emulation (sql_distinct_on in workload.py
        proves equivalence against DuckDB's native form); SQL-side
        ``unnest(array)`` is Spark's ``explode()`` (select position or
        LATERAL VIEW) — a typed UDTF shim would coerce every element to
        one static type, so none is registered. Cypher-side ``unnest``
        SRFs compile natively."""
        return self.spark.sql(text)

    def register_function(self, name: str, fn, return_type="string", pandas: bool = False):
        """Register a Python function under a Cypher-callable name
        (reference: CREATE FUNCTION in PL/pgSQL / PL/Python, §2.10).
        ``pandas=True`` wraps an Arrow-batched pandas UDF (the fast
        path); otherwise a row-at-a-time Python UDF (convenience only —
        keep off hot paths)."""
        from pyspark.sql.functions import pandas_udf, udf
        wrapped = pandas_udf(fn, return_type) if pandas else udf(fn, return_type)
        self.udfs[name.lower()] = wrapped
        return wrapped

    def register_aggregate(self, name: str, fn, return_type="double"):
        """Register a custom aggregate usable in Cypher RETURN/WITH
        (reference: CREATE AGGREGATE sfunc/finalfunc,
        src/backend/commands/aggregatecmds.c). ``fn`` is
        pandas.Series -> scalar; it runs as an Arrow-batched GROUPED_AGG
        pandas UDF — partial batches per partition, merged JVM-side, so
        the aggregation distributes like any built-in (no driver-side
        reduction)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _agg(v):
            return fn(v)

        # real (non-string) annotations make pandas_udf infer GROUPED_AGG
        # (module-level `from __future__ import annotations` would turn
        # inline hints into unresolvable strings)
        _agg.__annotations__ = {"v": pd.Series, "return": float}
        wrapped = pandas_udf(_agg, return_type)
        self.udfs[name.lower()] = wrapped
        self.udaf_names.add(name.lower())
        return wrapped

    def register_procedure(self, name: str, fn):
        """Analog of a PL/pgSQL function with Cypher inside its body
        (reference: cypher_plpgsql.sql — MATCH ... INTO var, control
        flow, parameters). Spark UDFs run on executors where no
        SparkSession exists, so query-COMPOSING functions are a driver
        concept here: ``fn(engine, *args)`` may run ``cypher()``/
        ``sql()``, branch on results, and return scalars or frames;
        invoke with ``call()``."""
        self.procedures[name.lower()] = fn
        return fn

    def call(self, name: str, *args, **kwargs):
        """Invoke a procedure registered with register_procedure."""
        fn = self.procedures.get(name.lower())
        if fn is None:
            raise KeyError(f"no procedure named {name!r}")
        return fn(self, *args, **kwargs)

    def register_table_function(self, name: str, cls, return_type: str):
        """CREATE FUNCTION ... RETURNS SETOF/TABLE analog (reference:
        §2.10, executed as a FunctionScan — nodeFunctionscan.c): wraps
        a Python UDTF class (``eval`` yields output rows) and registers
        it on the engine's SQL surface as a FROM-clause table function,
        including LATERAL correlation against other FROM items. This is
        the real set-returning extension point; explode()-based SRFs
        (UNWIND, unnest) remain the fast path for array flattening."""
        from pyspark.sql.functions import udtf
        wrapped = udtf(cls, returnType=return_type)
        self.spark.udtf.register(name, wrapped)
        return wrapped

    def prepare(self, text: str):
        """PREPARE/EXECUTE analog (reference: gram.y:11055 — Cypher in
        PREPARE with $n parameters, cypher_expr.sql:30-38): returns a
        callable; positional args bind $1, $2, ..., keyword args bind
        named $params. Each call compiles with the bound values."""
        def run(*args, **kwargs) -> DataFrame:
            params = {str(i + 1): v for i, v in enumerate(args)}
            params.update(kwargs)
            return self.cypher(text, params)
        return run

    def explain(self, text: str, params: dict | None = None,
                mode: str = "formatted") -> str:
        """EXPLAIN for Cypher statements (reference: gram.y:11021 —
        EXPLAIN CypherStmt): returns Catalyst's plan description for the
        compiled DataFrame without executing it. Modes: simple,
        extended, codegen, cost, formatted.

        Write statements are compiled through the same pipeline but the
        working graph is NOT committed — EXPLAIN CREATE/SET/DELETE shows
        the plan of the trailing projection/stats frame and leaves the
        graph untouched. DDL is rejected (the reference likewise has no
        EXPLAIN for utility statements)."""
        from agensgraph_spark.cypher.ddl import is_ddl
        if is_ddl(text):
            raise ValueError("EXPLAIN of DDL statements is not supported")
        uq = parse_cypher(text)
        leaves = uq.leaves if isinstance(uq, A.SetOp) else [uq]
        has_write = any(isinstance(c, WRITE_CLAUSES)
                        for part in leaves for c in part.clauses)
        if has_write:
            if isinstance(uq, A.SetOp):
                raise ValueError(
                    "write statements cannot combine with set operations")
            qc = QueryCompiler(self, params or {})
            df = qc.compile(uq)  # no commit: engine graph unchanged
        else:
            df = self.cypher(text, params)
        jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return df._jdf.queryExecution().explainString(jmode)

    def register_cypher_view(self, name: str, text: str, params: dict | None = None) -> DataFrame:
        """Expose a Cypher result to SQL (reference: Cypher as a SQL
        subquery, `SELECT * FROM (MATCH ... RETURN ...) t`,
        cypher_dml.sql:26). The view is lazy — Catalyst collapses it
        into consuming SQL plans."""
        df = self.cypher(text, params)
        df.createOrReplaceTempView(name)
        return df


class QueryCompiler(WriteMixin):
    def __init__(self, engine: CypherEngine, params: dict, graph: Graph | None = None):
        self.engine = engine
        self.graph = graph if graph is not None else engine.graph
        self.params = params
        self.scope = Scope()
        self.df: DataFrame | None = None
        self.wctx: WriteContext | None = None
        self.fold_reversed = False  # stats-driven chain reorder applied
        # Deferred cross joins: comma-separated pattern components stay
        # out of the pipeline DataFrame until something actually needs
        # them together. A pathfind over two independent components then
        # runs on id-only seed/target sets and joins its (small) result
        # back to each endpoint scan separately — never materializing
        # the wide endpoint cartesian (the reference's planner likewise
        # keeps disconnected components as separate FROM items,
        # parse_graph.c:1464 makeComponents).
        self._pending: dict[str, DataFrame] = {}
        # MATCH prop-map entries whose value references OUTER pipeline
        # variables (`UNWIND ... AS i MATCH (x:n {id: i})`): they cannot
        # filter the standalone scan; applied as pipeline filters after
        # the pattern folds (reference evaluates prop constraints with
        # the full query scope visible, parse_graph.c)
        self._deferred_props: list[tuple[str, str, A.Expr]] = []
        # ScalarSubquery AST node id → hoisted pipeline column name
        self._subq_cols: dict[int, str] = {}

    def _begin_write(self) -> None:
        """First write clause: fork the graph into a working copy all
        subsequent clauses (read or write) run against."""
        if self.wctx is None:
            if self.graph is None:
                self.graph = Graph(GraphCatalog("default"))
            self.wctx = WriteContext.begin(self.graph)
            self.graph = self.wctx.graph

    def _spawn_subcompiler(self) -> "QueryCompiler":
        sub = QueryCompiler(self.engine, self.params, graph=self.graph)
        sub.wctx = self.wctx
        return sub

    # ---------- helpers ----------

    def _schema_map(self) -> dict[str, T.DataType]:
        if self.df is None:
            return {}
        return {f.name: f.dataType for f in self.df.schema.fields}

    def _ec(self) -> ExprCompiler:
        cat = self.graph.catalog if self.graph is not None else None
        return ExprCompiler(self.scope, self._schema_map(), cat, self.params,
                            udfs=self.engine.udfs, subq_cols=self._subq_cols)

    def _ensure_df(self) -> DataFrame:
        if self.df is None:
            self.df = self.engine.spark.range(1).select(F.lit(1).alias("__one"))
        return self.df

    def _force(self, vars_needed) -> None:
        """Merge pending component scans for the given vars into the
        pipeline DataFrame (the deferred cross join becomes real)."""
        for v in list(vars_needed):
            scan = self._pending.pop(v, None)
            if scan is not None:
                self.df = scan if self.df is None else self.df.crossJoin(scan)

    def _force_all(self) -> None:
        self._force(list(self._pending.keys()))

    # ---------- top ----------

    def compile(self, q: A.Query) -> DataFrame:
        for clause in q.clauses:
            if isinstance(clause, A.Match):
                self._compile_match(clause)
            elif isinstance(clause, A.Projection):
                self._compile_projection(clause)
            elif isinstance(clause, A.Unwind):
                self._compile_unwind(clause)
            elif isinstance(clause, A.LoadClause):
                self._compile_load(clause)
            elif isinstance(clause, A.Create):
                self._force_all()
                self._compile_create(clause)
            elif isinstance(clause, A.Delete):
                self._force_all()
                self._compile_delete(clause)
            elif isinstance(clause, (A.SetClause, A.RemoveClause)):
                self._force_all()
                self._compile_set(clause)
            elif isinstance(clause, A.Merge):
                self._force_all()
                self._compile_merge(clause)
            else:
                raise NotImplementedError(type(clause).__name__)
        self._force_all()
        if self.df is None:
            raise ValueError("query produced no result")
        return self.df

    # ---------- scans ----------

    def _vertex_scan(self, var: str, labels: list[str], only: bool) -> tuple[DataFrame, Binding]:
        g = self.graph
        if g is None:
            raise ValueError("no graph bound to this engine (MATCH requires one)")
        if labels:
            lbls: list[str] = []
            for l in labels:
                if l not in g.catalog.labels:
                    raise ValueError(f"vertex label {l!r} does not exist in graph {g.catalog.name!r}")
                for d in ([l] if only else g.catalog.descendants(l)):
                    if d not in lbls:
                        lbls.append(d)
            df = g._union(lbls)
        else:
            lbls = g.catalog.vlabels()
            df = g.vertices()
        props = [c for c in df.columns if c not in ("id", "label")]
        renamed = df.select(*[F.col(c).alias(f"{var}__{c}") for c in df.columns])
        return renamed, Binding(var, "vertex", labels=lbls, props=props)

    def _edge_scan(self, var: str, types: list[str], only: bool, direction: str) -> tuple[DataFrame, Binding]:
        """Edge relation with join columns {var}__src/{var}__dst derived
        from direction; real start/end preserved for the binding."""
        g = self.graph
        if types:
            lbls: list[str] = []
            for t in types:
                if t not in g.catalog.labels:
                    raise ValueError(f"edge label {t!r} does not exist in graph {g.catalog.name!r}")
                for d in ([t] if only else g.catalog.descendants(t)):
                    if d not in lbls:
                        lbls.append(d)
            df = g._union(lbls)
        else:
            lbls = g.catalog.elabels()
            df = g.edges()
        props = [c for c in df.columns if c not in ("id", "start", "end", "label")]
        cols = [F.col(c).alias(f"{var}__{c}") for c in df.columns]
        if direction == "out":
            cols += [F.col("start").alias(f"{var}__src"), F.col("end").alias(f"{var}__dst")]
            renamed = df.select(*cols)
        elif direction == "in":
            cols += [F.col("end").alias(f"{var}__src"), F.col("start").alias(f"{var}__dst")]
            renamed = df.select(*cols)
        else:  # undirected: union both orientations (genEdgeUnion)
            fwd = df.select(*cols, F.col("start").alias(f"{var}__src"), F.col("end").alias(f"{var}__dst"))
            bwd = df.select(*cols, F.col("end").alias(f"{var}__src"), F.col("start").alias(f"{var}__dst"))
            renamed = fwd.unionByName(bwd)
        return renamed, Binding(var, "edge", labels=lbls, props=props)

    def _expand_labels(self, labels: list[str], only: bool) -> list[str]:
        """Descendant-expand a label list the way _vertex_scan does.
        Bindings must ALWAYS carry expanded labels — downstream pruning
        (`_labid_set(..., only=True)`) treats binding labels as the
        exact set, so storing a raw parent would silently drop its
        descendants (inheritance scan semantics, reference:
        src/backend/commands/graphcmds.c:241-303)."""
        cat = self.graph.catalog
        out: list[str] = []
        for l in labels:
            for d in ([l] if only else cat.descendants(l)):
                if d not in out:
                    out.append(d)
        return out

    def _labid_set(self, labels: list[str], kind: str, only: bool) -> list[int]:
        cat = self.graph.catalog
        out: list[int] = []
        for l in labels:
            for d in ([l] if only else cat.descendants(l)):
                lid = cat.labels[d].labid
                if lid not in out:
                    out.append(lid)
        return out

    @staticmethod
    def _labid_pred(col: Column, labids: list[int]) -> Column:
        import pyspark.sql.functions as F_
        preds = None
        for lid in labids:
            lo = lid << LOCID_BITS
            hi = lo | ((1 << LOCID_BITS) - 1)
            p = col.between(lo, hi)
            preds = p if preds is None else (preds | p)
        return preds if preds is not None else F_.lit(True)

    def _prop_filter(self, var: str, props: A.MapLit | None, df: DataFrame) -> DataFrame:
        if props is None:
            return df
        ec = ExprCompiler(self.scope, {f.name: f.dataType for f in df.schema.fields},
                          self.graph.catalog if self.graph else None, self.params)
        for key, val in props.items:
            if key == "__param__":
                pv = self.params.get(val.name) if isinstance(val, A.Param) else None
                if isinstance(pv, dict):
                    for k2, v2 in pv.items():
                        c = f"{var}__{prop_col_name(k2)}"
                        df = df.filter(F.col(c).eqNullSafe(F.lit(v2))
                                       if c in df.columns else F.lit(False))
                    continue
                raise ValueError("node property parameter must be a map")
            outer = {v for v in self._vars_in(val)
                     if v != var and self.scope.get(v) is not None}
            if outer:
                # value references outer pipeline vars — not resolvable
                # against the scan; defer to the pipeline frame
                self._deferred_props.append((var, key, val))
                continue
            c = f"{var}__{prop_col_name(key)}"
            # a property no candidate label carries is null everywhere →
            # the constraint can never match
            df = df.filter(F.col(c) == ec.col(val) if c in df.columns else F.lit(False))
        return df

    def _apply_deferred_props(self) -> None:
        while self._deferred_props:
            var, key, val = self._deferred_props.pop(0)
            need = [v for v in {var} | self._vars_in(val) if v in self._pending]
            self._force(need)
            self._materialize_path_composites([val])
            ec = self._ec()
            c = f"{var}__{prop_col_name(key)}"
            self.df = self.df.filter(
                F.col(c) == ec.col(val) if c in self.df.columns else F.lit(False))

    # ---------- MATCH ----------

    def _compile_match(self, m: A.Match) -> None:
        if m.optional:
            self._compile_optional_match(m)
            return
        edge_refs: list[EdgeRef] = []
        for pat in m.patterns:
            if pat.kind == "plain":
                self._fold_pattern(pat, edge_refs)
            else:
                self._fold_pathfind(pat)
        self._edge_uniqueness(edge_refs)
        self._apply_deferred_props()
        if m.where is not None:
            self._apply_where(m.where)

    def _apply_where(self, where: A.Expr) -> None:
        """Split top-level conjuncts; pattern predicates become
        semi/anti joins (reference: sublink conversion,
        src/backend/optimizer/plan/subselect.c:1269)."""
        self._materialize_path_composites([where])
        self._hoist_subqueries([where])
        conjuncts = self._split_and(where)
        plain: list[A.Expr] = []
        for c in conjuncts:
            if isinstance(c, A.PatternPred):
                self._pattern_semijoin(c.pattern, anti=False)
            elif isinstance(c, A.Not) and isinstance(c.operand, A.PatternPred):
                self._pattern_semijoin(c.operand.pattern, anti=True)
            else:
                plain.append(c)
        # pattern predicates NOT at top level (inside OR/NOT/CASE/...)
        # become hoisted match-count columns
        self._hoist_pattern_preds(plain)
        self._hoist_path_exprs(plain)
        pred = None
        for c in plain:
            refs = self._vars_in(c)
            pend_refs = [v for v in refs if v in self._pending]
            hoisted = any(isinstance(x, (A.ScalarSubquery, A.PatternPred,
                                         A.PathFindExpr))
                          for x in self._iter_expr(c))
            if len(refs) == 1 and pend_refs and not hoisted:
                # single-variable conjunct over a deferred component scan:
                # push the filter onto that scan directly (pre-join
                # pushdown, mirrors distribute_qual_to_rels)
                v = pend_refs[0]
                frame = self._pending[v]
                ec = ExprCompiler(self.scope,
                                  {f.name: f.dataType for f in frame.schema.fields},
                                  self.graph.catalog if self.graph is not None else None,
                                  self.params, udfs=self.engine.udfs)
                self._pending[v] = frame.filter(ec.bool_col(c))
                continue
            self._force(pend_refs)
            col = self._ec().bool_col(c)
            pred = col if pred is None else (pred & col)
        if pred is not None:
            self.df = self.df.filter(pred)

    @staticmethod
    def _split_and(e: A.Expr) -> list[A.Expr]:
        if isinstance(e, A.BoolOp) and e.op == "and":
            out = []
            for a in e.args:
                out.extend(QueryCompiler._split_and(a))
            return out
        return [e]

    def _hop_estimate(self, rel: A.RelPat, lnode: A.NodePat, rnode: A.NodePat) -> int | None:
        """Estimated matching-edge cardinality for one hop from the
        cached ag_graphmeta-style triples (reference costing input:
        src/include/catalog/ag_graphmeta.h:30). None without stats."""
        triples = self.graph.edge_triples() if self.graph is not None else None
        if triples is None:
            return None
        cat = self.graph.catalog
        etypes: set[str] = set()
        for t in (rel.types or cat.elabels()):
            etypes.update(cat.descendants(t) if not rel.only else [t])
        start_ids = set(self._labid_set(lnode.labels, "v", lnode.only)) if lnode.labels else None
        end_ids = set(self._labid_set(rnode.labels, "v", rnode.only)) if rnode.labels else None
        if rel.direction == "in":
            start_ids, end_ids = end_ids, start_ids
        total = 0
        for lbl, s, e, c in triples:
            if lbl not in etypes:
                continue
            fwd = ((start_ids is None or s in start_ids)
                   and (end_ids is None or e in end_ids))
            if fwd:
                total += c
            if rel.direction == "undir":
                bwd = ((start_ids is None or e in start_ids)
                       and (end_ids is None or s in end_ids))
                if bwd:
                    total += c
        return total

    _FLIP_DIR = {"out": "in", "in": "out", "undir": "undir"}

    def _maybe_reverse_elements(self, pat: A.PathPattern, els: list) -> list:
        """Stats-driven fold order for chain patterns: when the LAST
        hop's edge-triple cardinality is decisively smaller than the
        first's, fold the pattern from the other end (reverse the chain,
        flipping each hop's direction) so the first join materializes
        the small hop — the greedy seed choice the reference's planner
        makes from ag_graphmeta cardinalities. Only plain, fixed-length,
        unbound-path chains reorder; semantics are unchanged (the same
        joins apply in the opposite order). Records the decision in
        ``self.fold_reversed`` for plan tests."""
        if (pat.var is not None or pat.kind != "plain" or len(els) < 5
                or any(isinstance(r, A.RelPat) and r.varlen for r in els)):
            return els
        first = self._hop_estimate(els[1], els[0], els[2])
        last = self._hop_estimate(els[-2], els[-3], els[-1])
        if first is None or last is None:
            return els
        # keep a user-anchored selective start (props on the anchor)
        if els[0].props is not None and els[-1].props is None:
            return els
        if last * 2 >= first:
            return els
        import dataclasses
        rev = []
        for el in reversed(els):
            if isinstance(el, A.RelPat):
                el = dataclasses.replace(el, direction=self._FLIP_DIR[el.direction])
            rev.append(el)
        self.fold_reversed = True
        return rev

    def _fold_pattern(self, pat: A.PathPattern, edge_refs: list[EdgeRef]) -> None:
        els = self._maybe_reverse_elements(pat, pat.elements)
        node = els[0]
        left_var = self._anchor_node(node)
        if len(els) > 1 or pat.var is not None:
            # the anchor's id column is consumed immediately (edge join /
            # path construction) — its component must be in the pipeline
            self._force([left_var])
        path_vids: list[Column | str] = [left_var]
        path_eids: list[tuple[str, bool]] = []

        i = 1
        while i < len(els):
            rel: A.RelPat = els[i]
            right: A.NodePat = els[i + 1]
            if rel.varlen:
                left_var = self._vle_step(left_var, rel, right, edge_refs, path_eids)
            else:
                left_var = self._edge_step(left_var, rel, right, edge_refs, path_eids)
            path_vids.append(left_var)
            i += 2

        if pat.var is not None:
            self._bind_path(pat.var, path_vids, path_eids)

    def _anchor_node(self, node: A.NodePat) -> str:
        """Bind/locate the pattern's first node; returns its var name."""
        var = node.var or self.scope.fresh_anon()
        existing = self.scope.get(var)
        if existing is not None:
            if existing.kind != "vertex":
                raise ValueError(f"variable {var!r} already bound as {existing.kind}")
            # already bound: apply extra label/prop constraints to
            # whichever frame currently holds the var (pending scans
            # take the filter directly — pushdown before any join)
            pend = var in self._pending
            target = self._pending[var] if pend else self.df
            if node.labels:
                labids = self._labid_set(node.labels, "v", node.only)
                target = target.filter(self._labid_pred(F.col(f"{var}__id"), labids))
            target = self._prop_filter(var, node.props, target)
            if pend:
                self._pending[var] = target
            else:
                self.df = target
            return var
        scan, binding = self._vertex_scan(var, node.labels, node.only)
        scan = self._prop_filter(var, node.props, scan)
        self.scope.bind(binding)
        if self.df is None:
            self.df = scan
        else:
            self._pending[var] = scan  # deferred cross join
        return var

    def _edge_step(
        self,
        left_var: str,
        rel: A.RelPat,
        right: A.NodePat,
        edge_refs: list[EdgeRef],
        path_eids: list[tuple[str, bool]],
    ) -> str:
        evar = rel.var or self.scope.fresh_anon()
        if self.scope.get(evar) is not None:
            raise ValueError(f"edge variable {evar!r} bound twice in pattern")
        escan, ebind = self._edge_scan(evar, rel.types, rel.only, rel.direction)
        escan = self._prop_filter(evar, rel.props, escan)

        rvar = right.var or self.scope.fresh_anon()
        rbound = self.scope.get(rvar)

        # endpoint labid pruning on the edge side (filters reach the
        # edge Parquet scan through the id's high bits); the source
        # side prunes too when the left var's labels are known — for
        # multi-source edge labels (unions) this eliminates whole
        # branches via Parquet min/max on the underlying key
        if right.labels:
            labids = self._labid_set(right.labels, "v", right.only)
            escan = escan.filter(self._labid_pred(F.col(f"{evar}__dst"), labids))
        lbind = self.scope.get(left_var)
        if lbind is not None and lbind.labels:
            labids = self._labid_set(lbind.labels, "v", True)
            escan = escan.filter(self._labid_pred(F.col(f"{evar}__src"), labids))

        self.df = self.df.join(escan, F.col(f"{left_var}__id") == F.col(f"{evar}__src"), "inner")
        self.scope.bind(ebind)
        edge_refs.append(EdgeRef(evar, False))
        path_eids.append((evar, False))

        if rbound is not None:
            # right node already bound: close the cycle with a filter
            if rbound.kind != "vertex":
                raise ValueError(f"variable {rvar!r} already bound as {rbound.kind}")
            self._force([rvar])
            self.df = self.df.filter(F.col(f"{evar}__dst") == F.col(f"{rvar}__id"))
            self.df = self._prop_filter(rvar, right.props, self.df)
            return rvar

        need_vertex = (right.var is not None) or (right.props is not None)
        if need_vertex:
            rscan, rbind = self._vertex_scan(rvar, right.labels, right.only)
            rscan = self._prop_filter(rvar, right.props, rscan)
            self.df = self.df.join(rscan, F.col(f"{evar}__dst") == F.col(f"{rvar}__id"), "inner")
            self.scope.bind(rbind)
            return rvar
        # anonymous unconstrained endpoint: the edge's dst IS the vertex
        # id — no join (future-vertex deferral). Bind a light vertex so
        # later pattern parts can still chain from it.
        self.scope.bind(Binding(rvar, "vertex",
                                labels=self._expand_labels(right.labels, right.only),
                                props=[]))
        self.df = self.df.withColumn(f"{rvar}__id", F.col(f"{evar}__dst")) \
                         .withColumn(f"{rvar}__label", F.lit(None).cast("string"))
        return rvar

    def _vle_step(
        self,
        left_var: str,
        rel: A.RelPat,
        right: A.NodePat,
        edge_refs: list[EdgeRef],
        path_eids: list[tuple[str, bool]],
    ) -> str:
        evar = rel.var or self.scope.fresh_anon()
        escan, ebind = self._edge_scan("_e", rel.types, rel.only, rel.direction)
        escan = self._prop_filter("_e", rel.props, escan)
        edges = escan.select(
            F.col("_e__src").alias("src"),
            F.col("_e__dst").alias("dst"),
            F.col("_e__id").alias("eid"),
        )
        seeds = self.df.select(F.col(f"{left_var}__id").alias("seed")).distinct()
        maxh = self._hop_budget(rel, ebind.labels)
        minh = 0 if rel.minhops == 0 else (rel.minhops or 1)
        vle = P.vle_expand(edges, seeds, minh, maxh)
        vle = vle.select(
            F.col("seed").alias(f"{evar}__seed"),
            F.col("dst").alias(f"{evar}__dst"),
            F.col("eids").alias(f"{evar}__eids"),
            F.col("vids").alias(f"{evar}__vids"),
            F.col("len").alias(f"{evar}__len"),
        )
        self.df = self.df.join(vle, F.col(f"{left_var}__id") == F.col(f"{evar}__seed"), "inner")
        self.scope.bind(Binding(evar, "path", rel_array=True))
        edge_refs.append(EdgeRef(evar, True))
        path_eids.append((evar, True))

        rvar = right.var or self.scope.fresh_anon()
        rbound = self.scope.get(rvar)
        if rbound is not None:
            self._force([rvar])
            self.df = self.df.filter(F.col(f"{evar}__dst") == F.col(f"{rvar}__id"))
            self.df = self._prop_filter(rvar, right.props, self.df)
            return rvar
        if right.labels:
            labids = self._labid_set(right.labels, "v", right.only)
            self.df = self.df.filter(self._labid_pred(F.col(f"{evar}__dst"), labids))
        need_vertex = (right.var is not None) or (right.props is not None)
        if need_vertex:
            rscan, rbind = self._vertex_scan(rvar, right.labels, right.only)
            rscan = self._prop_filter(rvar, right.props, rscan)
            self.df = self.df.join(rscan, F.col(f"{evar}__dst") == F.col(f"{rvar}__id"), "inner")
            self.scope.bind(rbind)
        else:
            self.scope.bind(Binding(rvar, "vertex",
                                    labels=self._expand_labels(right.labels, right.only),
                                    props=[]))
            self.df = self.df.withColumn(f"{rvar}__id", F.col(f"{evar}__dst")) \
                             .withColumn(f"{rvar}__label", F.lit(None).cast("string"))
        return rvar

    def _hop_budget(self, rel: A.RelPat, labels: list[str]) -> int:
        """A path pattern's most hops: one for a fixed-length rel, else
        its upper bound (the engine's VLE cap when open), clamped to the
        longest path the label graph allows (Graph.path_depth) — no
        answer changes."""
        if not rel.varlen:
            return 1
        maxh = rel.maxhops if rel.maxhops is not None else self.engine.vle_max_hops
        depth = self.graph.path_depth(labels, rel.direction)
        return maxh if depth is None else min(maxh, depth)

    def _fold_pathfind(self, pat: A.PathPattern) -> None:
        """shortestpath / allshortestpaths / dijkstra over bound endpoints."""
        els = pat.elements
        if len(els) != 3:
            raise NotImplementedError("path-finding patterns must be single-hop (a)-[...]->(b)")
        lnode, rel, rnode = els
        lvar = self._anchor_node(lnode)
        rvar = self._anchor_node(rnode)

        evar = rel.var or "_e"
        escan, ebind = self._edge_scan(evar, rel.types, rel.only, rel.direction)
        escan = self._prop_filter(evar, rel.props, escan)
        if pat.qual is not None:
            # dijkstra edge qual filters the edge relation up front
            sc = Scope()
            sc.bind(ebind)
            ec = ExprCompiler(sc, {f.name: f.dataType for f in escan.schema.fields},
                              self.graph.catalog, self.params)
            escan = escan.filter(ec.bool_col(pat.qual))

        # Seed/target sets come from each endpoint's OWN frame (pending
        # component scan or the pipeline), id-only and distinct. Two
        # disconnected endpoint components thus never materialize a wide
        # vertex cartesian — the path operator runs on narrow id pairs and
        # its (small) result is equi-joined back to each endpoint scan
        # (the reference likewise keeps disconnected components as
        # separate FROM items, parse_graph.c:1464 makeComponents).
        lpend = self._pending.get(lvar)
        rpend = self._pending.get(rvar)
        lsrc = lpend if lpend is not None else self.df
        rsrc = rpend if rpend is not None else self.df
        # independent endpoint components: don't materialize the
        # |seeds|x|targets| cross product — dijkstra consumes the two
        # sets separately (seeds drive relaxation, targets filter the
        # settled paths); BFS still needs explicit pairs for its
        # early-exit bookkeeping
        seeds_df = targets_df = None
        if lpend is None and rpend is None:
            pairs = self.df.select(F.col(f"{lvar}__id").alias("seed"),
                                   F.col(f"{rvar}__id").alias("target")).distinct()
        else:
            seeds_df = lsrc.select(F.col(f"{lvar}__id").alias("seed")).distinct()
            targets_df = rsrc.select(F.col(f"{rvar}__id").alias("target")).distinct()
            pairs = seeds_df.crossJoin(targets_df)
        pvar = pat.var or self.scope.fresh_anon()

        if pat.kind in ("shortestpath", "allshortestpaths"):
            edges = escan.select(F.col(f"{evar}__src").alias("src"), F.col(f"{evar}__dst").alias("dst"),
                                 F.col(f"{evar}__id").alias("eid"))
            # a non-varlen rel in shortestpath is EXACTLY one hop
            # (cypher_shortestpath2.sql "No Labels": only adjacent pairs
            # match), while varlen without bounds defaults to the engine
            # cap; dijkstra below ignores the rel's hop count
            # (nodeDijkstra.c) and stops only at the label graph's depth
            minh = rel.minhops if rel.varlen and rel.minhops is not None else 1
            maxh = self._hop_budget(rel, ebind.labels)
            res = P.bfs_shortest(edges, pairs, minh, maxh, all_paths=(pat.kind == "allshortestpaths"))
            props = []
        else:  # dijkstra
            sc = Scope()
            sc.bind(ebind)
            ec = ExprCompiler(sc, {f.name: f.dataType for f in escan.schema.fields},
                              self.graph.catalog, self.params)
            weight = ec.col(pat.weight) if pat.weight is not None else F.lit(1.0)
            edges = escan.select(F.col(f"{evar}__src").alias("src"), F.col(f"{evar}__dst").alias("dst"),
                                 F.col(f"{evar}__id").alias("eid"), weight.cast("double").alias("w"))
            limit = 1
            if pat.limit is not None and isinstance(pat.limit, A.Lit):
                limit = int(pat.limit.value)
            depth = self.graph.path_depth(ebind.labels, rel.direction)
            if seeds_df is not None:
                res = P.dijkstra_paths(edges, None, limit=limit,
                                       seeds=seeds_df, targets=targets_df, _depth=depth)
            else:
                res = P.dijkstra_paths(edges, pairs, limit=limit, _depth=depth)
            props = ["weight"]
            res = res.withColumnRenamed("weight", f"{pvar}__weight")

        res = res.select(
            F.col("seed").alias(f"{pvar}__seed"),
            F.col("target").alias(f"{pvar}__target"),
            F.col("eids").alias(f"{pvar}__eids"),
            F.col("vids").alias(f"{pvar}__vids"),
            F.col("len").alias(f"{pvar}__len"),
            *[F.col(f"{pvar}__weight") for _ in props],
        )
        seed_eq = F.col(f"{lvar}__id") == F.col(f"{pvar}__seed")
        target_eq = F.col(f"{rvar}__id") == F.col(f"{pvar}__target")
        if lpend is None and rpend is None:
            self.df = self.df.join(res, seed_eq & target_eq, "inner")
        elif lpend is None:
            del self._pending[rvar]
            self.df = (self.df.join(res, seed_eq, "inner")
                       .join(rpend, target_eq, "inner"))
        elif rpend is None:
            del self._pending[lvar]
            self.df = (self.df.join(res, target_eq, "inner")
                       .join(lpend, seed_eq, "inner"))
        else:
            del self._pending[lvar], self._pending[rvar]
            joined = res.join(lpend, seed_eq, "inner").join(rpend, target_eq, "inner")
            self.df = joined if self.df is None else self.df.crossJoin(joined)
        self.scope.bind(Binding(pvar, "path", props=[f"{pvar}__weight"] if props else []))
        if pat.weight_var is not None:
            self.df = self.df.withColumn(pat.weight_var, F.col(f"{pvar}__weight"))
            self.scope.bind(Binding(pat.weight_var, "value"))

    def _materialize_path_composites(self, exprs: list) -> None:
        """nodes(p)/relationships(p) must return full vertex/edge
        composites, not bare id arrays (reference: makeGraphpathDatum,
        src/backend/utils/adt/graph.c:1259; pg_proc.dat:11656-11719
        return _vertex/_edge arrays). The expression compiler cannot
        join, so pre-join here: the DISTINCT path id-arrays posexplode,
        equi-join the label-union composite relation, and re-collect in
        path order as ``array<struct<id,label[,start,end],properties>>``
        columns the expression layer then reads. Join strategy is left
        to Catalyst/AQE — the distinct-key side is bounded by distinct
        paths, the composite side by the graph."""
        if self.graph is None or self.df is None:
            return
        wanted: set[tuple[str, str]] = set()
        # Var nodes consumed directly by path-aware functions resolve to
        # flat path columns (length/size) — no composite needed there
        skip: set[int] = set()
        for e in exprs:
            if e is None:
                continue
            for x in self._iter_expr(e):
                if isinstance(x, A.FuncCall) and x.args \
                        and isinstance(x.args[0], A.PathFindExpr):
                    # hoisted expression-position pathfind: join the
                    # composites onto its left-joined path columns too
                    nm = x.name.lower()
                    if nm in ("nodes", "vertices", "relationships", "edges"):
                        pvar = self._subq_cols.get(id(x.args[0]))
                        if pvar is not None and self.scope.get(pvar) is not None:
                            wanted.add((pvar,
                                        "v" if nm in ("nodes", "vertices") else "e"))
                    continue
                if isinstance(x, A.FuncCall) and x.args and isinstance(x.args[0], A.Var):
                    nm = x.name.lower()
                    if nm in ("length", "size"):
                        skip.add(id(x.args[0]))
                        continue
                    if nm not in ("nodes", "vertices", "relationships", "edges"):
                        continue
                    b = self.scope.get(x.args[0].name)
                    if b is not None and b.kind == "path":
                        skip.add(id(x.args[0]))
                        wanted.add((x.args[0].name,
                                    "v" if nm in ("nodes", "vertices") else "e"))
        for e in exprs:
            if e is None:
                continue
            for x in self._iter_expr(e):
                # a varlen rel var in any other expression position is
                # the edge list — materialize its composites
                if isinstance(x, A.Var) and id(x) not in skip:
                    b = self.scope.get(x.name)
                    if b is not None and b.kind == "path" and b.rel_array:
                        wanted.add((x.name, "e"))
        for pvar, kind in sorted(wanted):
            col_name = f"{pvar}__{'vnodes' if kind == 'v' else 'enodes'}"
            if col_name in self.df.columns:
                continue
            if kind == "v":
                ids = F.col(f"{pvar}__vids")
                if f"{pvar}__seed" in self.df.columns:
                    # VLE/pathfind vid arrays exclude the seed; the
                    # reference's graphpath includes the start vertex
                    ids = F.concat(F.array(F.col(f"{pvar}__seed")), ids)
                comp = self.graph.vertex_composites()
                fields = ["id", "label", "properties"]
            else:
                ids = F.col(f"{pvar}__eids")
                comp = self.graph.edge_composites()
                fields = ["id", "label", "start", "end", "properties"]
            # prefix the composite columns: the relation derives from the
            # same label scans already in the pipeline (self-join)
            comp = comp.select(*[F.col(f).alias(f"__c_{f}") for f in fields])
            keys = self.df.select(ids.alias("__pkey")).distinct()
            ex = keys.select("__pkey", F.posexplode("__pkey").alias("__pos", "__pid"))
            jn = ex.join(comp, F.col("__pid") == F.col("__c_id"), "left")
            item = F.struct(*[F.col(f"__c_{f}").alias(f) for f in fields])
            coll = (jn.groupBy("__pkey")
                    .agg(F.array_sort(F.collect_list(F.struct(F.col("__pos").alias("p"),
                                                              item.alias("x"))))
                         .getField("x").alias(col_name)))
            self.df = self.df.join(coll, ids == coll["__pkey"], "left").drop("__pkey")

    def _edge_uniqueness(self, refs: list[EdgeRef]) -> None:
        """Pairwise edge-distinctness within one MATCH (reference:
        addQualUniqueEdges parse_graph.c:2972)."""
        for i in range(len(refs)):
            for j in range(i + 1, len(refs)):
                a, b = refs[i], refs[j]
                if not a.is_array and not b.is_array:
                    self.df = self.df.filter(F.col(f"{a.var}__id") != F.col(f"{b.var}__id"))
                elif a.is_array and not b.is_array:
                    self.df = self.df.filter(~F.array_contains(F.col(f"{a.var}__eids"), F.col(f"{b.var}__id")))
                elif not a.is_array and b.is_array:
                    self.df = self.df.filter(~F.array_contains(F.col(f"{b.var}__eids"), F.col(f"{a.var}__id")))
                else:
                    self.df = self.df.filter(
                        F.size(F.array_intersect(F.col(f"{a.var}__eids"), F.col(f"{b.var}__eids"))) == 0)

    def _bind_path(self, pvar: str, vids: list[str], eids: list[tuple[str, bool]]) -> None:
        """p = (a)-[e]->(b)...: compose path arrays from the bound parts."""
        vid_cols: list[Column] = [F.array(F.col(f"{vids[0]}__id"))]
        eid_cols: list[Column] = []
        ln: Column = F.lit(0).cast("long")
        for i, (evar, is_arr) in enumerate(eids):
            if is_arr:
                eid_cols.append(F.col(f"{evar}__eids"))
                vid_cols.append(F.col(f"{evar}__vids"))
                ln = ln + F.col(f"{evar}__len")
            else:
                eid_cols.append(F.array(F.col(f"{evar}__id")))
                vid_cols.append(F.array(F.col(f"{vids[i + 1]}__id")))
                ln = ln + F.lit(1)
        self.df = (
            self.df.withColumn(f"{pvar}__vids", F.concat(*vid_cols))
            .withColumn(f"{pvar}__eids", F.concat(*eid_cols) if eid_cols else F.array().cast("array<long>"))
            .withColumn(f"{pvar}__len", ln)
        )
        self.scope.bind(Binding(pvar, "path"))

    # ---------- OPTIONAL MATCH / pattern predicates ----------

    def _compile_pattern_standalone(self, patterns: list[A.PathPattern], where: A.Expr | None,
                                    shared: list[str]) -> tuple[DataFrame, Scope, dict[str, str]]:
        """Compile patterns in a fresh sub-compiler. Shared (outer-bound)
        vertex/edge vars are re-scanned under a temp prefix; returns
        (df, subscope, shared_var -> temp_var map)."""
        sub = QueryCompiler(self.engine, self.params, graph=self.graph)
        # continue the outer anon counter: a fresh scope would restart
        # at _a1 and collide with the outer frame's anon columns when
        # the two are joined (MERGE with an anonymous pattern after an
        # anonymous MATCH)
        sub.scope._anon = self.scope._anon
        renames: dict[str, str] = {}
        # pre-bind nothing; compile patterns with original names first
        m = A.Match(patterns, optional=False, where=None)
        sub._compile_match(m)
        if where is not None:
            # only conjuncts referencing solely inner vars can be applied
            # here; the rest go into the join condition by the caller
            pass
        df = sub.df
        for v in shared:
            b = sub.scope.get(v)
            if b is None:
                continue
            tmp = f"__sh_{v}"
            renames[v] = tmp
            for c in list(df.columns):
                if c == v or c.startswith(f"{v}__"):
                    df = df.withColumnRenamed(c, c.replace(v, tmp, 1))
        return df, sub.scope, renames

    @staticmethod
    def _iter_expr(e):
        """Yield every Expr node in the tree rooted at e."""
        if not isinstance(e, A.Expr):
            return
        yield e
        kids: list = []
        for attr in ("left", "right", "operand", "base", "item", "container",
                     "index", "lo", "hi", "source", "where", "projection", "default"):
            v = getattr(e, attr, None)
            if v is not None:
                kids.append(v)
        if isinstance(e, (A.BoolOp, A.FuncCall)):
            kids.extend(e.args)
        if isinstance(e, A.ListLit):
            kids.extend(e.items)
        if isinstance(e, A.MapLit):
            kids.extend(v for _, v in e.items)
        if isinstance(e, A.Case):
            for c, v2 in e.whens:
                kids.extend((c, v2))
        for k in kids:
            yield from QueryCompiler._iter_expr(k)

    def _vars_in(self, e: A.Expr | None) -> set[str]:
        return {x.name for x in self._iter_expr(e) if isinstance(x, A.Var)}

    def _hoist_subqueries(self, exprs) -> None:
        """SQL scalar subqueries reachable from WHERE/WITH/RETURN become
        pipeline columns: the pipeline DataFrame is registered as a temp
        view and each subquery is attached as `(SELECT ...) AS __subq_N_k`
        through Spark SQL, so Catalyst plans the usual decorrelated
        left-joined aggregate — never a driver-side `.collect()`.
        Correlated references `var.prop` (Cypher variables visible inside
        the SubLink, reference parse_graph.c:373) are rewritten to the
        view's flattened columns; a `var.prop` whose prop is not a known
        property of the binding is left alone (it names a SQL alias
        belonging to the subquery itself)."""
        import re as _re

        subs: list[A.ScalarSubquery] = []
        seen: set[int] = set()
        for e in exprs:
            for x in self._iter_expr(e):
                # IN (SELECT ...) is a set-membership SubLink, not a
                # scalar one (reference ANY_SUBLINK, parse_expr.c):
                # collect the subquery's rows into an array so the IN
                # compiles to array_contains over the hoisted column
                if isinstance(x, A.InList) and isinstance(x.container, A.ScalarSubquery):
                    # scale path: when the member item is a plain bound
                    # property, emit a true IN-subquery predicate column
                    # (Catalyst rewrites it to a semi-join) instead of
                    # collecting the subquery's rows into an array
                    it = x.item
                    b = (self.scope.bindings.get(it.base.name)
                         if isinstance(it, A.Prop) and isinstance(it.base, A.Var)
                         else None)
                    if b is not None and it.key in (b.props or []):
                        x.container.in_item_col = f"{it.base.name}__{it.key}"
                    else:
                        x.container.collect_set = True
                if isinstance(x, A.ScalarSubquery) and id(x) not in seen:
                    seen.add(id(x))
                    subs.append(x)
        subs = [s for s in subs if id(s) not in self._subq_cols]
        if not subs:
            return
        # correlated references may live in deferred component scans
        for sq in subs:
            self._force([v for v in list(self._pending)
                         if _re.search(rf"\b{_re.escape(v)}\.", sq.sql)])
        df = self._ensure_df()
        n = next(_SUBQ_IDS)
        view = f"__cy_pipe_{n}"
        df.createOrReplaceTempView(view)
        items = [f"{view}.*"]
        def sub_outside_quotes(pattern: str, repl, sql: str) -> str:
            # never rewrite inside string literals / quoted identifiers
            parts = _re.split(r"('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")", sql)
            return "".join(p if i % 2 else _re.sub(pattern, repl, p)
                           for i, p in enumerate(parts))

        for k, sq in enumerate(subs):
            sql = sq.sql
            for v, b in sorted(self.scope.bindings.items(), key=lambda kv: -len(kv[0])):
                props = set(b.props or [])
                if not props:
                    continue
                # a subquery-local relation alias shadowing a Cypher
                # variable would make `v.prop` ambiguous — refuse rather
                # than silently rewrite the subquery's own reference
                if _re.search(rf"\b(?:from|join|as)\s+{_re.escape(v)}\b", sql, _re.I):
                    raise ValueError(
                        f"SQL subquery aliases a relation as {v!r}, which "
                        "shadows a Cypher variable — rename one of them")

                def repl(m, v=v, props=props):
                    return (f"{view}.{v}__{m.group(1)}"
                            if m.group(1) in props else m.group(0))

                sql = sub_outside_quotes(rf"\b{_re.escape(v)}\.(\w+)", repl, sql)
            col = f"__subq_{n}_{k}"
            if getattr(sq, "collect_set", False):
                # collect_list silently drops NULLs, which would turn
                # SQL's three-valued `x IN (subquery-with-NULLs)` from
                # NULL into FALSE — carry a has_null flag alongside the
                # values so the expression layer can emit the exact
                # three-valued result
                sql = (f"SELECT named_struct('vals', collect_list(__x), "
                       f"'has_null', count_if(__x IS NULL) > 0) "
                       f"FROM ({sql}) AS __in_sub(__x)")
                items.append(f"({sql}) AS {col}")
            elif getattr(sq, "in_item_col", None):
                items.append(f"({view}.{sq.in_item_col} IN ({sql})) AS {col}")
            else:
                items.append(f"({sql}) AS {col}")
            self._subq_cols[id(sq)] = col
        self.df = self.engine.spark.sql(f"SELECT {', '.join(items)} FROM {view}")

    def _hoist_pattern_preds(self, exprs) -> None:
        """CSP_EXISTS / CSP_SIZE in arbitrary expression position
        (reference: parsenodes.h:3839-3851; cypher_dml2.sql). The pattern
        compiles standalone, aggregates to a per-shared-vertex match
        count, and left-joins back on the shared variables' ids — EXISTS
        reads count>0, SIZE reads coalesce(count, 0). Top-level WHERE
        conjuncts never reach here (they take the cheaper semi/anti-join
        path in _apply_where)."""
        preds: list[A.PatternPred] = []
        seen: set[int] = set()
        for e in exprs:
            for x in self._iter_expr(e):
                if isinstance(x, A.PatternPred) and id(x) not in seen \
                        and id(x) not in self._subq_cols:
                    seen.add(id(x))
                    preds.append(x)
        for pp in preds:
            shared = self._pattern_shared_vars([pp.pattern])
            self._force(shared)
            right, _, renames = self._compile_pattern_standalone([pp.pattern], None, shared)
            n = next(_SUBQ_IDS)
            cnt = f"__patq_{n}"
            if shared:
                keys = [F.col(f"{renames[v]}__id").alias(f"{cnt}_k{i}")
                        for i, v in enumerate(shared) if v in renames]
                agg = right.groupBy(*keys).agg(F.count(F.lit(1)).alias(cnt))
                cond = None
                for i, v in enumerate(shared):
                    if v not in renames:
                        continue
                    c = F.col(f"{v}__id") == F.col(f"{cnt}_k{i}")
                    cond = c if cond is None else (cond & c)
                self._ensure_df()
                self.df = (self.df.join(agg, cond, "left")
                           .drop(*[f"{cnt}_k{i}" for i in range(len(keys))]))
            else:
                # disconnected pattern: one global count, a 1-row cross join
                agg = right.agg(F.count(F.lit(1)).alias(cnt))
                self.df = self._ensure_df().crossJoin(agg)
            self._subq_cols[id(pp)] = cnt

    def _pull_up_unnest(self, e: A.Expr) -> A.Expr:
        """SRF pull-up (reference: PostgreSQL hoists set-returning
        functions out of arbitrary target-list positions): Spark allows
        a generator only at the TOP of a projection, so any expression
        wrapping unnest(arr) is pushed inside the array first —
        E(unnest(arr)) becomes unnest([x IN arr | E(x)])."""
        target = None
        for x in self._iter_expr(e):
            if isinstance(x, A.FuncCall) and x.name.lower() == "unnest":
                target = x
                break
        if target is None or target is e:
            return e
        v = "__srf_x"
        replaced = self._replace_expr(e, target, A.Var(v))
        return A.FuncCall("unnest",
                          [A.ListComp(v, target.args[0], None, replaced)])

    def _replace_expr(self, root, target, repl):
        """Copy-on-write AST substitution of one node (by identity)."""
        import copy as _copy
        import dataclasses as _dc
        if root is target:
            return repl
        if not isinstance(root, A.Expr) or not _dc.is_dataclass(root):
            return root
        new = _copy.copy(root)
        changed = False
        for f in _dc.fields(root):
            val = getattr(root, f.name)
            if isinstance(val, A.Expr):
                nv = self._replace_expr(val, target, repl)
                if nv is not val:
                    setattr(new, f.name, nv)
                    changed = True
            elif isinstance(val, list):
                nl = []
                dirty = False
                for item in val:
                    if isinstance(item, A.Expr):
                        ni = self._replace_expr(item, target, repl)
                        dirty |= ni is not item
                        nl.append(ni)
                    elif (isinstance(item, tuple) and len(item) == 2
                          and isinstance(item[1], A.Expr)):
                        ni = (item[0], self._replace_expr(item[1], target, repl))
                        dirty |= ni[1] is not item[1]
                        nl.append(ni)
                    else:
                        nl.append(item)
                if dirty:
                    setattr(new, f.name, nl)
                    changed = True
        return new if changed else root

    def _hoist_path_exprs(self, exprs) -> None:
        """shortestpath()/allshortestpaths() in EXPRESSION position
        (cypher_shortestpath2.sql:334-339): the pathfind runs over the
        DISTINCT bound endpoint id pairs and LEFT-joins back, so every
        outer row survives — unreachable pairs carry NULL, exactly the
        reference's scalar-position semantics (vs the MATCH form's
        filtering inner join). allshortestpaths yields the sorted array
        of tied paths (PostgreSQL array-of-graphpath output)."""
        import agensgraph_spark.operators.paths as P

        pfs: list[A.PathFindExpr] = []
        seen: set[int] = set()
        for e in exprs:
            for x in self._iter_expr(e):
                if isinstance(x, A.PathFindExpr) and id(x) not in seen \
                        and id(x) not in self._subq_cols:
                    seen.add(id(x))
                    pfs.append(x)
        done: dict[tuple, str] = {}
        for pf in pfs:
            pat = pf.pattern
            if len(pat.elements) != 3:
                raise NotImplementedError(
                    "expression-position pathfind must be (a)-[...]->(b)")
            lnode, rel, rnode = pat.elements
            lvar, rvar = lnode.var, rnode.var
            # structurally identical pathfinds in one projection (e.g.
            # length(shortestpath(p)) AND nodes(shortestpath(p))) share
            # one BFS run and one joined column set
            key = (pat.kind, lvar, rvar, tuple(rel.types), rel.direction,
                   rel.varlen, rel.minhops, rel.maxhops, rel.only)
            if rel.props is None and key in done:
                self._subq_cols[id(pf)] = done[key]
                continue
            for v in (lvar, rvar):
                if v is None or self.scope.get(v) is None:
                    raise ValueError(
                        "expression-position shortestpath needs BOTH "
                        "endpoints bound by an earlier MATCH (reference "
                        "evaluates it over existing vertex rows)")
            self._force([v for v in (lvar, rvar) if v in self._pending])
            df = self._ensure_df()
            pairs = df.select(F.col(f"{lvar}__id").alias("seed"),
                              F.col(f"{rvar}__id").alias("target")).distinct()
            evar = rel.var or "_e"
            escan, ebind = self._edge_scan(evar, rel.types, rel.only, rel.direction)
            escan = self._prop_filter(evar, rel.props, escan)
            edges = escan.select(F.col(f"{evar}__src").alias("src"),
                                 F.col(f"{evar}__dst").alias("dst"),
                                 F.col(f"{evar}__id").alias("eid"))
            minh = rel.minhops if rel.varlen and rel.minhops is not None else 1
            maxh = self._hop_budget(rel, ebind.labels)  # non-varlen: exactly one hop
            allp = pat.kind == "allshortestpaths"
            res = P.bfs_shortest(edges, pairs, minh, maxh, all_paths=allp)
            n = next(_SUBQ_IDS)
            pvar = f"__pf_{n}"
            if allp:
                res = res.groupBy("seed", "target").agg(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("len"), F.col("vids"), F.col("eids"))
                    )).alias(f"{pvar}__plist"))
            else:
                res = res.select("seed", "target",
                                 F.col("vids").alias(f"{pvar}__vids"),
                                 F.col("eids").alias(f"{pvar}__eids"),
                                 F.col("len").alias(f"{pvar}__len"))
            res = res.withColumnRenamed("seed", f"{pvar}__seed") \
                     .withColumnRenamed("target", f"{pvar}__target")
            # qualified join: res's plan embeds a projection OF the
            # pipeline (the id-pair seed set), so unqualified column
            # refs would be ambiguous self-join attributes
            lalias, ralias = f"__pfl_{n}", f"__pfr_{n}"
            self.df = df.alias(lalias).join(
                res.alias(ralias),
                (F.col(f"{lalias}.{lvar}__id") == F.col(f"{ralias}.{pvar}__seed"))
                & (F.col(f"{lalias}.{rvar}__id") == F.col(f"{ralias}.{pvar}__target")),
                "left").drop(f"{pvar}__target")
            # __seed stays: vid arrays exclude the start vertex and the
            # projection layer prepends it (makeGraphpathDatum order)
            if not allp:
                self.scope.bind(Binding(pvar, "path", props=[]))
            self._subq_cols[id(pf)] = pvar
            if rel.props is None:
                done[key] = pvar

    def _pattern_shared_vars(self, patterns: list[A.PathPattern]) -> list[str]:
        shared = []
        for pat in patterns:
            for el in pat.elements:
                v = getattr(el, "var", None)
                if v and self.scope.get(v) is not None and v not in shared:
                    shared.append(v)
        return shared

    def _compile_optional_match(self, m: A.Match) -> None:
        if self.df is None:
            # OPTIONAL MATCH as the FIRST clause: an unmatched pattern
            # still yields ONE all-NULL row (cypher_dml.out:
            # `OPTIONAL MATCH (n {name:'unknown'}) RETURN n.name` → one
            # NULL) — left-join the matches onto a one-row seed
            self.df = self.engine.spark.range(1).select(
                F.lit(1).alias("__omseed"))
        shared = self._pattern_shared_vars(m.patterns)
        self._force(shared)
        right, rscope, renames = self._compile_pattern_standalone(m.patterns, None, shared)

        cond: Column | None = None
        for v, tmp in renames.items():
            c = F.col(f"{v}__id") == F.col(f"{tmp}__id")
            cond = c if cond is None else (cond & c)

        # WHERE inside OPTIONAL MATCH joins the ON condition (LEFT JOIN
        # ... ON semantics — reference: transformMatchOptional lateral
        # left join, parse_graph.c:1184)
        if m.where is not None:
            merged = Scope()
            merged.bindings.update(self.scope.bindings)
            merged.bindings.update({v: b for v, b in rscope.bindings.items() if v not in renames})
            sch = self._schema_map()
            sch.update({f.name: f.dataType for f in right.schema.fields})
            ec = ExprCompiler(merged, sch, self.graph.catalog if self.graph else None, self.params)
            wcol = ec.bool_col(m.where)
            cond = wcol if cond is None else (cond & wcol)

        self.df = self.df.join(right, cond if cond is not None else F.lit(True), "left")
        self.df = self.df.drop("__omseed",
                               *[c for tmp in renames.values() for c in right.columns if c.startswith(f"{tmp}__")])
        for v, b in rscope.bindings.items():
            if v not in renames and self.scope.get(v) is None:
                self.scope.bind(b)

    def _pattern_semijoin(self, pattern: A.PathPattern, anti: bool) -> None:
        """EXISTS((...)) / NOT EXISTS → left-semi / left-anti join."""
        shared = self._pattern_shared_vars([pattern])
        self._force(shared)
        right, rscope, renames = self._compile_pattern_standalone([pattern], None, shared)
        cond: Column | None = None
        for v, tmp in renames.items():
            c = F.col(f"{v}__id") == F.col(f"{tmp}__id")
            cond = c if cond is None else (cond & c)
        how = "left_anti" if anti else "left_semi"
        self.df = self.df.join(right, cond if cond is not None else F.lit(True), how)

    # ---------- UNWIND / LOAD ----------

    def _compile_unwind(self, u: A.Unwind) -> None:
        self._force(self._vars_in(u.expr))
        self._ensure_df()
        # UNWIND nodes(p)/relationships(p) expands full composites,
        # not bare id arrays — same pre-join as projections
        self._materialize_path_composites([u.expr])
        ec = self._ec()
        col = ec.col(u.expr)
        # UNWIND NULL yields zero rows (the reference's SRF over a NULL
        # jsonb input emits nothing) — an untyped NULL literal would
        # otherwise fail analysis inside explode
        if isinstance(u.expr, A.Lit) and u.expr.value is None:
            col = F.lit(None).cast("array<string>")
        self.df = self.df.withColumn(u.alias, F.explode(col))
        self.scope.bind(Binding(u.alias, "value"))

    def _compile_load(self, l: A.LoadClause) -> None:
        src = self.engine.tables.get(l.table)
        if src is None:
            src = self.engine.spark.table(l.table)
        var = l.alias
        renamed = src.select(*[F.col(c).alias(f"{var}__{c}") for c in src.columns])
        self.scope.bind(Binding(var, "row", props=list(src.columns)))
        self.df = renamed if self.df is None else self.df.crossJoin(renamed)

    # ---------- WITH / RETURN ----------

    def _expand_star_items(self, proj: A.Projection) -> list[A.ReturnItem]:
        items: list[A.ReturnItem] = []
        if proj.star:
            for var, b in self.scope.bindings.items():
                if var.startswith("_a") or var.startswith("__"):
                    continue
                items.append(A.ReturnItem(A.Var(var), None))
        items.extend(proj.items)
        return items

    def _default_alias(self, e: A.Expr, idx: int) -> str:
        if isinstance(e, A.Var):
            return e.name
        if isinstance(e, A.Prop) and isinstance(e.base, A.Var):
            return e.key
        return f"col{idx}"

    def _compile_projection(self, proj: A.Projection) -> None:
        # WITH/RETURN is a cardinality barrier: unreferenced deferred
        # components still multiply row counts, so they must join in now.
        self._force_all()
        self._ensure_df()
        proj_exprs = ([it.expr for it in proj.items]
                      + [s.expr for s in proj.order]
                      + ([proj.where] if proj.where is not None else []))
        self._hoist_subqueries(proj_exprs)
        self._hoist_pattern_preds(proj_exprs)
        self._hoist_path_exprs(proj_exprs)
        # top-level bare vars pass through as flat columns — only vars
        # INSIDE larger expressions can need composite materialization
        self._materialize_path_composites(
            [x for x in proj_exprs if not isinstance(x, A.Var)])
        items = self._expand_star_items(proj)
        for it in items:
            if it.expr is not None:
                it.expr = self._pull_up_unnest(it.expr)
        ec = self._ec()

        out_cols: list[Column] = []       # final select/agg columns
        key_cols: list[Column] = []       # grouping keys
        agg_cols: list[Column] = []
        new_scope = Scope()
        new_schema_hint: dict[str, A.Expr] = {}
        any_agg = any(has_agg(it.expr, self.engine.udaf_names) for it in items)
        passthrough: dict[str, Binding] = {}

        for idx, it in enumerate(items):
            e = it.expr
            # whole-entity pass-through keeps the binding's flat columns
            if isinstance(e, A.Var):
                b = self.scope.get(e.name)
                if b is not None and b.kind in ("vertex", "edge", "path", "row") and (
                        it.alias is None or it.alias == e.name):
                    if proj.kind == "with" or b.kind in ("path",):
                        passthrough[e.name] = b
                        continue
                    if proj.kind == "return":
                        col = ec.tc(e).col.alias(it.alias or e.name)
                        (key_cols if any_agg else out_cols).append(col)
                        new_scope.bind(Binding(it.alias or e.name, "value"))
                        continue
            alias = it.alias or self._default_alias(e, idx)
            tc = ec.tc(e)
            col = tc.col.alias(alias)
            if any_agg and has_agg(e, self.engine.udaf_names):
                agg_cols.append(col)
            elif any_agg:
                key_cols.append(col)
            else:
                out_cols.append(col)
            new_scope.bind(Binding(alias, "value"))
            new_schema_hint[alias] = e

        pass_cols: list[Column] = []
        for var, b in passthrough.items():
            pass_cols.extend([F.col(c) for c in b.cols()])
            new_scope.bind(b)

        # sort columns may reference pre-projection scope → compute as
        # hidden columns first (non-agg only)
        sort_specs: list[tuple[str, bool, str | None]] = []
        hidden: list[Column] = []
        if proj.order:
            for si, s in enumerate(proj.order):
                resolved = self._resolve_sort(s.expr, items, new_scope)
                if resolved is not None:
                    sort_specs.append((resolved, s.asc, s.nulls))
                elif not any_agg:
                    hname = f"__sort{si}"
                    hidden.append(ec.col(s.expr).alias(hname))
                    sort_specs.append((hname, s.asc, s.nulls))
                else:
                    raise ValueError("ORDER BY after aggregation must reference returned items")

        if any_agg:
            gb = self.df.groupBy(*key_cols, *pass_cols) if (key_cols or pass_cols) else self.df.groupBy()
            self.df = gb.agg(*agg_cols) if agg_cols else gb.agg(F.count(F.lit(1)).alias("__cnt")).drop("__cnt")
        else:
            self.df = self.df.select(*out_cols, *pass_cols, *hidden)

        if proj.distinct:
            vis = [c for c in self.df.columns if not c.startswith("__sort")]
            self.df = self.df.dropDuplicates(vis)

        self.scope = new_scope

        if proj.where is not None:
            self._apply_where(proj.where)

        if sort_specs:
            self.df = self.df.orderBy(*[
                _sort_col(n, asc, nulls) for n, asc, nulls in sort_specs])
        drop_hidden = [c for c in self.df.columns if c.startswith("__sort")]
        if drop_hidden:
            self.df = self.df.drop(*drop_hidden)
        if proj.skip is not None:
            self.df = self.df.offset(self._int_arg(proj.skip))
        if proj.limit is not None:
            self.df = self.df.limit(self._int_arg(proj.limit))

    def _int_arg(self, e: A.Expr) -> int:
        """SKIP/LIMIT value: the reference accepts any stable integer
        expression (gram.y cypher_skip_opt/cypher_limit_opt take
        a_expr) — fold literals, parameters, and arithmetic over them
        driver-side; anything referencing a column stays an error."""
        v = self._const_eval(e)
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise ValueError("SKIP/LIMIT must be a constant integer expression")
        if isinstance(v, float):
            if v != int(v):
                raise ValueError(f"SKIP/LIMIT must be an integer, got {v}")
            v = int(v)
        return v

    def _const_eval(self, e: A.Expr):
        if isinstance(e, A.Lit):
            return e.value
        if isinstance(e, A.Param):
            return self.params[e.name]
        if isinstance(e, A.UnaryOp):
            v = self._const_eval(e.operand)
            return -v if e.op == "-" else v
        if isinstance(e, A.BinOp):
            l, r = self._const_eval(e.left), self._const_eval(e.right)
            if e.op == "+":
                return l + r
            if e.op == "-":
                return l - r
            if e.op == "*":
                return l * r
            if e.op == "/":
                # Cypher integer division truncates toward zero — use
                # exact integer arithmetic (int(l / r) loses exactness
                # above 2^53, off-by-one for large SKIP params)
                if isinstance(l, int) and isinstance(r, int):
                    q = abs(l) // abs(r)
                    return q if (l < 0) == (r < 0) else -q
                return l / r
            if e.op == "%":
                return l % r
            if e.op == "^":
                return float(l) ** float(r)
        raise ValueError("SKIP/LIMIT must be a constant integer expression")

    def _resolve_sort(self, e: A.Expr, items: list[A.ReturnItem], new_scope: Scope) -> str | None:
        """Match a sort expression to a projected alias."""
        if isinstance(e, A.Var) and new_scope.get(e.name) is not None:
            return e.name
        for it in items:
            if it.expr == e:
                return it.alias or None
        return None
