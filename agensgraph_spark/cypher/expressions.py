"""Cypher expression → Spark Column compiler, type-directed.

The reference evaluates Cypher expressions dynamically over jsonb
(reference: src/backend/utils/adt/cypher_ops.c jsonb_add/sub/...,
cypher_funcs.c jsonb function layer). We instead resolve the coercion
matrix *at compile time* using the DataFrame's schema (property columns
are natively typed), so arithmetic, string ops and list ops all stay
inside whole-stage codegen — no per-row Python, no runtime jsonb
dispatch. Semantics preserved where types are static:

- ``+``: number+number add, string concat, list concat
  (cypher_ops.c:25-125 jsonb_add)
- ``/`` between integers truncates (PostgreSQL integer division)
- ``substring``/``left``/``right`` use Cypher's 0-based indexing
  (parse_cypher_expr.c:929-962)
- ``=~`` is a full-string regex match, list indexing supports negative
  indices and slices (parse_cypher_expr.c:1572-1720 CypherIndices)
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agensgraph_spark.cypher import ast as A
from agensgraph_spark.cypher.scope import Binding, Scope

AGG_NAMES = {"count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp",
             "stddev", "stddev_samp", "stddev_pop", "percentilecont", "percentiledisc",
             "head_agg"}

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType)


def has_agg(e: A.Expr, extra_aggs: "frozenset[str] | set[str]" = frozenset()) -> bool:
    if isinstance(e, A.FuncCall):
        if e.name in AGG_NAMES or e.name.lower() in extra_aggs:
            return True
        return any(has_agg(a, extra_aggs) for a in e.args)
    for attr in ("left", "right", "operand", "base", "item", "container", "index",
                 "lo", "hi", "source", "where", "projection", "default"):
        v = getattr(e, attr, None)
        if isinstance(v, A.Expr) and has_agg(v, extra_aggs):
            return True
    if isinstance(e, A.BoolOp):
        return any(has_agg(a, extra_aggs) for a in e.args)
    if isinstance(e, (A.ListLit,)):
        return any(has_agg(a, extra_aggs) for a in e.items)
    if isinstance(e, A.MapLit):
        return any(has_agg(v, extra_aggs) for _, v in e.items)
    if isinstance(e, A.Case):
        return any(has_agg(c, extra_aggs) or has_agg(v, extra_aggs) for c, v in e.whens)
    return False


class TC:
    """Typed column: a Spark Column + statically-known DataType (or None)."""

    __slots__ = ("col", "dtype")

    def __init__(self, col: Column, dtype: T.DataType | None = None):
        self.col = col
        self.dtype = dtype

    def is_string(self) -> bool:
        return isinstance(self.dtype, T.StringType)

    def is_array(self) -> bool:
        return isinstance(self.dtype, T.ArrayType)

    def is_integral(self) -> bool:
        return isinstance(self.dtype, _INTEGRAL)

    def is_numeric(self) -> bool:
        return isinstance(self.dtype, _NUMERIC)


class ExprCompiler:
    def __init__(
        self,
        scope: Scope,
        schema: dict[str, T.DataType],
        catalog=None,
        params: dict | None = None,
        udfs: dict | None = None,
        subq_cols: dict | None = None,
    ):
        self.scope = scope
        self.schema = schema
        self.catalog = catalog
        self.params = params or {}
        self.udfs = udfs or {}
        self.subq_cols = subq_cols or {}
        self.lambda_vars: dict[str, TC] = {}
        # SET-clause sequential visibility: within one comma list, a
        # later assignment's RHS reads EARLIER assignments' values
        # (cypher_dml.out: SET a.age = 11, a.age = a.age + 1 → 12);
        # the write compiler installs pending columns here
        self.col_overrides: dict[str, Column] = {}

    # ---- public ----

    def col(self, e: A.Expr) -> Column:
        return self.tc(e).col

    def bool_col(self, e: A.Expr) -> Column:
        """Cypher truthiness: non-boolean values in predicate position
        (null → false via filter semantics)."""
        t = self.tc(e)
        if t.dtype is None or isinstance(t.dtype, T.BooleanType):
            return t.col.cast("boolean")
        if t.is_numeric():
            return t.col != F.lit(0)
        return t.col.cast("boolean")

    # ---- dispatch ----

    def tc(self, e: A.Expr) -> TC:
        meth = getattr(self, f"_c_{type(e).__name__}", None)
        if meth is None:
            raise NotImplementedError(f"expression {type(e).__name__} not supported")
        return meth(e)

    def _c_ScalarSubquery(self, e: A.ScalarSubquery) -> TC:
        """SQL scalar subquery inside a Cypher expression (reference:
        SubLink-in-Cypher, parse_graph.c:373; cypher_expr.sql:262-267).
        The query compiler hoists subqueries reachable from WHERE/RETURN
        into pipeline columns via Spark SQL (correlated ones become
        Catalyst's left-joined aggregate) — those resolve here by column.
        Outside the pipeline (e.g. CREATE property defaults) the subquery
        must be uncorrelated and folds to a one-row literal."""
        hoisted = self.subq_cols.get(id(e))
        if hoisted is not None:
            return TC(F.col(hoisted))
        from pyspark.sql import SparkSession
        rows = SparkSession.active().sql(e.sql).limit(2).collect()
        if len(rows) > 1:
            raise ValueError("scalar subquery returned more than one row")
        val = rows[0][0] if rows else None
        return TC(F.lit(val))

    def _c_PathFindExpr(self, e: "A.PathFindExpr") -> TC:
        """Hoisted expression-position pathfind: project the left-joined
        path columns (struct for shortestpath, array of tied paths for
        allshortestpaths; NULL when unreachable)."""
        pvar = self.subq_cols.get(id(e))
        if pvar is None:
            raise ValueError(
                "expression-position shortestpath is supported in "
                "RETURN/WITH/WHERE over bound endpoints only")
        pl = f"{pvar}__plist"
        if pl in self.schema:
            return TC(F.col(pl), self.schema.get(pl))
        vids = F.concat(F.array(F.col(f"{pvar}__seed")), F.col(f"{pvar}__vids"))
        st = F.struct(vids.alias("vids"),
                      F.col(f"{pvar}__eids").alias("eids"),
                      F.col(f"{pvar}__len").alias("len"))
        # unreachable pair → NULL path, not a struct of NULLs
        return TC(F.when(F.col(f"{pvar}__len").isNotNull(), st), None)

    def _c_PatternPred(self, e: A.PatternPred) -> TC:
        """EXISTS(pattern) / SIZE(pattern) in expression position — the
        query compiler pre-joins a per-row match count column (CSP_EXISTS
        / CSP_SIZE, reference parsenodes.h:3839-3851); top-level WHERE
        conjuncts never reach here (semi/anti-join fast path)."""
        col = self.subq_cols.get(id(e))
        if col is None:
            raise NotImplementedError(
                "pattern predicate not supported in this context (writes)")
        cnt = F.coalesce(F.col(col), F.lit(0)).cast("long")
        if e.kind == "size":
            return TC(cnt, T.LongType())
        return TC(cnt > 0, T.BooleanType())

    def _c_Lit(self, e: A.Lit) -> TC:
        v = e.value
        if v is None:
            return TC(F.lit(None), T.NullType())
        if isinstance(v, bool):
            return TC(F.lit(v), T.BooleanType())
        if isinstance(v, int):
            if not (-(1 << 63) <= v < (1 << 63)):
                # out-of-int8 literal: the reference promotes to
                # numeric (cypher_expr.sql:27) — exact decimal here
                import decimal
                prec = len(str(abs(v)))
                return TC(F.lit(decimal.Decimal(v)),
                          T.DecimalType(prec, 0))
            return TC(F.lit(v).cast("long"), T.LongType())
        if isinstance(v, float):
            return TC(F.lit(v), T.DoubleType())
        return TC(F.lit(v), T.StringType())

    def _c_Param(self, e: A.Param) -> TC:
        if e.name not in self.params:
            raise ValueError(f"missing parameter ${e.name}")
        v = self.params[e.name]
        if not isinstance(v, (list, dict)):
            return self._c_Lit(A.Lit(v))
        return TC(self._py_lit(v))

    @classmethod
    def _py_lit(cls, v) -> Column:
        """Structured parameter values → literal columns: dicts become
        structs (field access via .k), lists arrays — the jsonb
        parameter shapes of PREPARE t(_jsonb) (cypher_dml.sql:1369)."""
        if isinstance(v, dict):
            return F.struct(*[cls._py_lit(x).alias(str(k)) for k, x in v.items()])
        if isinstance(v, (list, tuple)):
            return F.array(*[cls._py_lit(x) for x in v])
        return F.lit(v)

    def _c_Var(self, e: A.Var) -> TC:
        if e.name in self.lambda_vars:
            return self.lambda_vars[e.name]
        b = self.scope.get(e.name)
        if b is None:
            raise ValueError(f"variable {e.name!r} not defined")
        if b.kind == "value":
            return TC(F.col(e.name), self.schema.get(e.name))
        if b.kind in ("vertex", "edge"):
            return TC(self.entity_struct(b), None)
        if b.kind == "row":
            p = e.name
            flds = [F.col(f"{p}__{x}").alias(x) for x in b.props]
            dts = T.StructType([T.StructField(x, self.schema.get(f"{p}__{x}", T.StringType())) for x in b.props])
            return TC(F.struct(*flds), dts)
        if b.kind == "path":
            p = e.name
            if b.rel_array:
                # a varlen rel var IS the edge list in expression
                # position (cypher_dml2.sql AGV2-26/29): composites when
                # the query compiler materialized them, bare ids as the
                # non-pipeline fallback
                name = f"{p}__enodes"
                if name in self.schema:
                    return TC(F.col(name), self.schema[name])
                return TC(F.col(f"{p}__eids"), T.ArrayType(T.LongType()))
            return TC(F.struct(F.col(f"{p}__vids").alias("vids"),
                               F.col(f"{p}__eids").alias("eids"),
                               F.col(f"{p}__len").alias("len")), None)
        raise ValueError(f"cannot use {e.name!r} as a value")

    def entity_struct(self, b: Binding) -> Column:
        from agensgraph_spark.graph import prop_display_name
        p = b.var
        props = F.to_json(F.struct(*[F.col(f"{p}__{x}").alias(prop_display_name(x))
                                     for x in b.props])) if b.props else F.lit("{}")
        fields = [F.col(f"{p}__id").alias("id"), F.col(f"{p}__label").alias("label")]
        if b.kind == "edge":
            fields += [F.col(f"{p}__start").alias("start"), F.col(f"{p}__end").alias("end")]
        fields.append(props.alias("properties"))
        return F.struct(*fields)

    def entity_id(self, e: A.Expr) -> Column | None:
        """If e is a bare entity variable, its id column (for equality,
        count, distinct — entities compare by identity)."""
        if isinstance(e, A.Var):
            b = self.scope.get(e.name)
            if b is not None and b.kind in ("vertex", "edge"):
                return F.col(f"{e.name}__id")
        return None

    def _c_Prop(self, e: A.Prop) -> TC:
        if isinstance(e.base, A.FuncCall) and e.base.name.lower() == "unnest":
            # unnest(arr).k — Spark generators cannot nest inside other
            # expressions, so push the access INSIDE the array first:
            # unnest([x IN arr | x.k]) (reference SRF projection,
            # cypher_dml.sql:1242 unnest(nodes(p)).id)
            v = "__unnest_x"
            lc = A.ListComp(v, e.base.args[0], None, A.Prop(A.Var(v), e.key))
            return self.tc(A.FuncCall("unnest", [lc]))
        if isinstance(e.base, A.Var) and e.base.name not in self.lambda_vars:
            b = self.scope.get(e.base.name)
            if b is not None and b.kind in ("vertex", "edge", "path", "row"):
                # a property sharing a base-attribute name is stored
                # mangled and wins over the attribute (reference: `u.id`
                # reads the jsonb property; id(u) reads the graphid)
                from agensgraph_spark.graph import prop_col_name
                name = f"{e.base.name}__{prop_col_name(e.key)}"
                if name in self.col_overrides:
                    return TC(self.col_overrides[name], self.schema.get(name))
                if name in self.schema:
                    return TC(F.col(name), self.schema[name])
                name = f"{e.base.name}__{e.key}"
                if name in self.schema:
                    return TC(F.col(name), self.schema[name])
                if e.key in ("id", "label") or (b.kind == "edge" and e.key in ("start", "end")):
                    return TC(F.col(f"{e.base.name}__{e.key}"), self.schema.get(f"{e.base.name}__{e.key}"))
                # property not present on any candidate label → null
                return TC(F.lit(None), T.NullType())
        base = self.tc(e.base)
        if isinstance(base.dtype, T.StructType):
            fld = next((f for f in base.dtype.fields if f.name == e.key), None)
            is_composite = any(f.name == "properties" for f in base.dtype.fields)
            if is_composite and e.key != "properties":
                # entity composite (id/label[/start/end]/properties
                # struct, e.g. an element of nodes(p)): property access
                # reads ONLY the JSON document — `x.id` is the id
                # PROPERTY and is NULL when absent, never the graphid
                # (reference: cypher_dml2.sql AGV2-29, `all(x in r where
                # x.id is null)` matches the property-less edge); the
                # attributes are reached via id()/label()/start()/end().
                # Values surface as strings (jsonb parity).
                return TC(F.get_json_object(base.col.getField("properties"),
                                            f"$.{e.key}"), T.StringType())
            if fld is not None:
                return TC(base.col.getField(e.key), fld.dataType)
            return TC(base.col.getField(e.key), None)
        if isinstance(base.dtype, T.MapType):
            return TC(base.col.getItem(e.key), base.dtype.valueType)
        # unknown / JSON string document
        return TC(F.get_json_object(base.col.cast("string"), f"$.{e.key}"), None)

    def _c_Index(self, e: A.Index) -> TC:
        base = self.tc(e.base)
        idx = self.tc(e.index)
        if base.is_array():
            elem = base.dtype.elementType
            # Cypher is 0-based with negative wrap; element_at is
            # 1-based, and out-of-range access yields NULL (jsonb
            # semantics) — try_element_at, never an ANSI error
            i = idx.col.cast("int")
            pos = F.when(i >= 0, i + 1).otherwise(i)
            return TC(F.try_element_at(base.col, pos), elem)
        if isinstance(base.dtype, T.MapType):
            return TC(F.element_at(base.col, idx.col), base.dtype.valueType)
        if isinstance(base.dtype, T.StructType):
            return TC(base.col.getField(e.index.value if isinstance(e.index, A.Lit) else None), None)
        if isinstance(e.index, A.Lit) and isinstance(e.index.value, str):
            # n['props']['k'] over a JSON document property (reference:
            # CypherAccessExpr jsonb path, execExprInterp.c:1882)
            return TC(F.get_json_object(base.col.cast("string"), f"$.{e.index.value}"),
                      T.StringType())
        return TC(F.get_json_object(base.col.cast("string"), f"$[{e.index.value}]")
                  if isinstance(e.index, A.Lit) and isinstance(e.index.value, int)
                  else F.try_element_at(base.col, idx.col + 1), None)

    def _c_Slice(self, e: A.Slice) -> TC:
        base = self.tc(e.base)
        n = F.size(base.col)
        lo = self.tc(e.lo).col.cast("int") if e.lo is not None else F.lit(0)
        hi = self.tc(e.hi).col.cast("int") if e.hi is not None else n
        lo_n = F.when(lo < 0, F.greatest(n + lo, F.lit(0))).otherwise(F.least(lo, n))
        hi_n = F.when(hi < 0, F.greatest(n + hi, F.lit(0))).otherwise(F.least(hi, n))
        length = F.greatest(hi_n - lo_n, F.lit(0))
        return TC(F.slice(base.col, lo_n + 1, length), base.dtype)

    # ---- operators ----

    def _c_BinOp(self, e: A.BinOp) -> TC:
        l, r = self.tc(e.left), self.tc(e.right)
        op = e.op
        if op == "||" or (op == "+" and (l.is_string() or r.is_string())):
            return TC(F.concat(l.col.cast("string"), r.col.cast("string")), T.StringType())
        if op == "+" and (l.is_array() or r.is_array()):
            lc = l.col if l.is_array() else F.array(l.col)
            rc = r.col if r.is_array() else F.array(r.col)
            return TC(F.concat(lc, rc), l.dtype if l.is_array() else r.dtype)
        if op == "+":
            return TC(l.col + r.col, self._num_out(l, r))
        if op == "-":
            return TC(l.col - r.col, self._num_out(l, r))
        if op == "*":
            return TC(l.col * r.col, self._num_out(l, r))
        if op == "/":
            if l.is_integral() and r.is_integral():
                # PostgreSQL integer division truncates toward zero
                return TC((l.col / r.col).cast("long"), T.LongType())
            return TC(l.col / r.col, T.DoubleType())
        if op == "%":
            return TC(l.col % r.col, self._num_out(l, r))
        if op == "^":
            return TC(F.pow(l.col.cast("double"), r.col.cast("double")), T.DoubleType())
        raise NotImplementedError(f"operator {op}")

    @staticmethod
    def _num_out(l: TC, r: TC) -> T.DataType | None:
        if l.is_integral() and r.is_integral():
            return T.LongType()
        if l.is_numeric() and r.is_numeric():
            return T.DoubleType()
        return None

    def _c_UnaryOp(self, e: A.UnaryOp) -> TC:
        t = self.tc(e.operand)
        return TC(-t.col if e.op == "-" else t.col, t.dtype)

    _GRAPHID_FNS = ("id", "start", "end", "startnode", "endnode")

    def _graphid_lit(self, other: A.Expr) -> Column | None:
        """'labid.locid' string/float literals coerce to graphid when
        compared against an id-valued side (cypher_dml.sql:1204-1218:
        id(n) = '1.1', id(n) > 1.1 — the reference's numeric/text →
        graphid casts, graph.h graphid_in)."""
        import re as _re
        if isinstance(other, A.Lit) and isinstance(other.value, (str, float)):
            m = _re.fullmatch(r"(\d+)\.(\d+)", str(other.value))
            if m:
                from agensgraph_spark.graphid import make_graphid
                return F.lit(make_graphid(int(m.group(1)), int(m.group(2))))
        return None

    def _is_graphid_expr(self, x: A.Expr) -> bool:
        if self.entity_id(x) is not None:
            return True
        return (isinstance(x, A.FuncCall)
                and x.name.lower() in self._GRAPHID_FNS)

    def _c_Cmp(self, e: A.Cmp) -> TC:
        lid, rid = self.entity_id(e.left), self.entity_id(e.right)
        if lid is not None and rid is not None:
            l, r = TC(lid, T.LongType()), TC(rid, T.LongType())
        elif self._is_graphid_expr(e.left) and (g := self._graphid_lit(e.right)) is not None:
            l, r = self.tc(e.left), TC(g, T.LongType())
        elif self._is_graphid_expr(e.right) and (g := self._graphid_lit(e.left)) is not None:
            l, r = TC(g, T.LongType()), self.tc(e.right)
        else:
            l, r = self.tc(e.left), self.tc(e.right)
        ops: dict[str, Callable[[Column, Column], Column]] = {
            "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
            "<": lambda a, b: a < b, ">": lambda a, b: a > b,
            "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b,
        }
        return TC(ops[e.op](l.col, r.col), T.BooleanType())

    def _c_DistinctFrom(self, e: A.DistinctFrom) -> TC:
        """IS [NOT] DISTINCT FROM: null-safe equality (two NULLs are
        not distinct; NULL vs non-NULL is distinct) — Spark's
        eqNullSafe has exactly the PostgreSQL truth table."""
        lid, rid = self.entity_id(e.left), self.entity_id(e.right)
        if lid is not None and rid is not None:
            lc, rc = lid, rid
        else:
            lc, rc = self.tc(e.left).col, self.tc(e.right).col
        eq = lc.eqNullSafe(rc)
        return TC(eq if e.negated else ~eq, T.BooleanType())

    def _c_BoolOp(self, e: A.BoolOp) -> TC:
        cols = [self.bool_col(a) for a in e.args]
        out = cols[0]
        for c in cols[1:]:
            if e.op == "and":
                out = out & c
            elif e.op == "or":
                out = out | c
            else:  # xor: null-propagating
                out = (out & ~c) | (~out & c)
        return TC(out, T.BooleanType())

    def _c_Not(self, e: A.Not) -> TC:
        return TC(~self.bool_col(e.operand), T.BooleanType())

    def _c_IsNull(self, e: A.IsNull) -> TC:
        target = self.entity_id(e.operand)
        if target is None:
            target = self.tc(e.operand).col
        return TC(target.isNotNull() if e.negated else target.isNull(), T.BooleanType())

    def _c_InList(self, e: A.InList) -> TC:
        item = self.tc(e.item)
        if isinstance(e.container, A.ListLit) and all(isinstance(i, A.Lit) for i in e.container.items):
            return TC(item.col.isin([i.value for i in e.container.items]), T.BooleanType())
        cont = self.tc(e.container)
        if isinstance(e.container, A.ScalarSubquery) and getattr(e.container, "in_item_col", None):
            # hoisted as a boolean IN-subquery predicate column
            return TC(cont.col, T.BooleanType())
        if isinstance(e.container, A.ScalarSubquery) and getattr(e.container, "collect_set", False):
            # hoisted (vals, has_null) struct: exact three-valued IN —
            # TRUE when found; FALSE when the subquery is empty or the
            # item verifiably misses a NULL-free set; NULL when the item
            # is NULL over a non-empty set or the set contains NULLs
            vals = cont.col.getField("vals")
            has_null = cont.col.getField("has_null")
            nonempty = (F.size(vals) > 0) | has_null
            null_b = F.lit(None).cast("boolean")
            col = (F.when(item.col.isNull(),
                          F.when(nonempty, null_b).otherwise(F.lit(False)))
                   .when(F.array_contains(vals, item.col), F.lit(True))
                   .when(has_null, null_b)
                   .otherwise(F.lit(False)))
            return TC(col, T.BooleanType())
        return TC(F.array_contains(cont.col, item.col), T.BooleanType())

    def _c_StringOp(self, e: A.StringOp) -> TC:
        l, r = self.tc(e.left), self.tc(e.right)
        lc = l.col.cast("string")
        if e.op == "starts_with":
            return TC(lc.startswith(r.col.cast("string")), T.BooleanType())
        if e.op == "ends_with":
            return TC(lc.endswith(r.col.cast("string")), T.BooleanType())
        if e.op == "contains":
            return TC(lc.contains(r.col.cast("string")), T.BooleanType())
        if e.op == "regex":
            if isinstance(e.right, A.Lit) and isinstance(e.right.value, str):
                return TC(lc.rlike(f"^(?:{e.right.value})$"), T.BooleanType())
            return TC(lc.rlike(F.concat(F.lit("^(?:"), r.col.cast("string"), F.lit(")$"))), T.BooleanType())
        if e.op in ("like", "not_like", "ilike", "not_ilike"):
            # gram.y:13560-13607 — LIKE/ILIKE [ESCAPE]; Spark's LIKE has
            # the same %/_ wildcards and backslash default escape.
            # ESCAPE '' (reference: like.c — no escape character) can't
            # go through F.like (Spark requires exactly one char), so it
            # compiles to the equivalent anchored regex instead.
            esc = self._escape_literal(e, default="\\")
            ci = e.op.endswith("ilike")
            if esc == "":
                if not (isinstance(e.right, A.Lit) and isinstance(e.right.value, str)):
                    raise NotImplementedError(
                        "LIKE ... ESCAPE '' needs a literal pattern (the "
                        "no-escape pattern->regex translation runs at "
                        "compile time)")
                rx = ("(?i)" if ci else "") + "^(?:" + "".join(
                    ".*" if ch == "%" else "." if ch == "_"
                    else "\\" + ch if ch in r"\.^$|?*+()[]{}" else ch
                    for ch in e.right.value) + ")$"
                col = lc.rlike(rx)
            else:
                fn = F.ilike if ci else F.like
                col = fn(lc, r.col.cast("string"), F.lit(esc))
            return TC(~col if e.op.startswith("not_") else col, T.BooleanType())
        if e.op in ("similar", "not_similar"):
            # gram.y:13609-13640 — SIMILAR TO [ESCAPE] rewrites the SQL
            # regex through similar_escape (regexp.c) and matches with ~
            if not (isinstance(e.right, A.Lit) and isinstance(e.right.value, str)):
                raise NotImplementedError(
                    "SIMILAR TO pattern must be a string literal (the "
                    "pattern->regex translation runs at compile time)")
            from agensgraph_spark.sqlfuncs import similar_escape
            esc = self._escape_literal(e, default="\\")
            rx = similar_escape(e.right.value, esc or None)
            col = lc.rlike(rx)
            return TC(~col if e.op.startswith("not_") else col, T.BooleanType())
        raise NotImplementedError(e.op)

    @staticmethod
    def _escape_literal(e: A.StringOp, default: str) -> str:
        if e.escape is None:
            return default
        if not (isinstance(e.escape, A.Lit) and isinstance(e.escape.value, str)):
            raise NotImplementedError("ESCAPE must be a string literal")
        return e.escape.value

    def _c_Case(self, e: A.Case) -> TC:
        out = None
        for cond, val in e.whens:
            c = (self.tc(e.operand).col == self.tc(cond).col) if e.operand is not None else self.bool_col(cond)
            v = self.tc(val)
            out = F.when(c, v.col) if out is None else out.when(c, v.col)
        dflt = self.tc(e.default) if e.default is not None else None
        col = out.otherwise(dflt.col) if dflt is not None else out
        return TC(col, dflt.dtype if dflt is not None else None)

    def _c_ListLit(self, e: A.ListLit) -> TC:
        items = [self.tc(i) for i in e.items]
        dtypes = {str(i.dtype) for i in items if i.dtype is not None and not isinstance(i.dtype, T.NullType)}
        elem = items[0].dtype if len(dtypes) == 1 else None
        if not items:
            # untyped empty list: element type stays NULL so a later
            # union/comparison coerces it to the OTHER side's type
            # (jsonb arrays are heterogeneous; [] must mix with any) —
            # the write layer pins stored null-arrays to array<string>
            return TC(F.array(), T.ArrayType(T.NullType()))
        if elem is None:
            return TC(F.array(*[i.col.cast("string") for i in items]), T.ArrayType(T.StringType()))
        return TC(F.array(*[i.col for i in items]), T.ArrayType(elem))

    def _c_MapLit(self, e: A.MapLit) -> TC:
        fields = [self.tc(v).col.alias(k) for k, v in e.items]
        dts = T.StructType([T.StructField(k, self.tc(v).dtype or T.StringType()) for k, v in e.items])
        return TC(F.struct(*fields), dts)

    def _c_ListComp(self, e: A.ListComp) -> TC:
        src = self.tc(e.source)
        elem_t = src.dtype.elementType if src.is_array() else None

        def body(x: Column) -> TC:
            old = self.lambda_vars.get(e.var)
            self.lambda_vars[e.var] = TC(x, elem_t)
            try:
                if e.projection is not None:
                    return self.tc(e.projection)
                return TC(x, elem_t)
            finally:
                if old is None:
                    self.lambda_vars.pop(e.var, None)
                else:
                    self.lambda_vars[e.var] = old

        col = src.col
        if e.where is not None:
            def pred(x: Column) -> Column:
                old = self.lambda_vars.get(e.var)
                self.lambda_vars[e.var] = TC(x, elem_t)
                try:
                    return self.bool_col(e.where)
                finally:
                    if old is None:
                        self.lambda_vars.pop(e.var, None)
                    else:
                        self.lambda_vars[e.var] = old
            col = F.filter(col, pred)
        out_t = None
        if e.projection is not None:
            probe = body(F.lit(None))
            out_t = T.ArrayType(probe.dtype) if probe.dtype else None
            col = F.transform(col, lambda x: body(x).col)
        else:
            out_t = src.dtype
        return TC(col, out_t)

    def _c_Quantifier(self, e: A.Quantifier) -> TC:
        src = self.tc(e.source)
        elem_t = src.dtype.elementType if src.is_array() else None

        def pred(x: Column) -> Column:
            old = self.lambda_vars.get(e.var)
            self.lambda_vars[e.var] = TC(x, elem_t)
            try:
                return self.bool_col(e.where)
            finally:
                if old is None:
                    self.lambda_vars.pop(e.var, None)
                else:
                    self.lambda_vars[e.var] = old

        if e.kind == "all":
            return TC(F.forall(src.col, pred), T.BooleanType())
        if e.kind == "any":
            return TC(F.exists(src.col, pred), T.BooleanType())
        if e.kind == "none":
            return TC(~F.exists(src.col, pred), T.BooleanType())
        # single
        return TC(F.size(F.filter(src.col, pred)) == 1, T.BooleanType())

    # ---- function calls ----

    def _c_FuncCall(self, e: A.FuncCall) -> TC:
        name = e.name
        if name in AGG_NAMES:
            return self._agg(e)
        handler = getattr(self, f"_f_{name}", None)
        if handler is not None:
            return handler(e)
        # user functions (reference: CREATE FUNCTION surface, §2.10)
        udf_fn = self.udfs.get(name)
        if udf_fn is not None:
            return TC(udf_fn(*[self.tc(a).col for a in e.args]), None)
        return self._generic_func(e)

    def _agg(self, e: A.FuncCall) -> TC:
        name = e.name
        if name == "count":
            if e.star:
                return TC(F.count(F.lit(1)), T.LongType())
            arg = e.args[0]
            ident = self.entity_id(arg)
            col = ident if ident is not None else self.tc(arg).col
            return TC(F.count_distinct(col) if e.distinct else F.count(col), T.LongType())
        arg = self.tc(e.args[0])
        col = arg.col
        if name == "collect":
            ident = None
            if isinstance(e.args[0], A.Var):
                b = self.scope.get(e.args[0].name)
                if b is not None and b.kind in ("vertex", "edge"):
                    ident = self.entity_struct(b)
            c = ident if ident is not None else col
            return TC(F.collect_set(c) if e.distinct else F.collect_list(c), T.ArrayType(arg.dtype or T.StringType()))
        if name == "sum":
            c = F.sum_distinct(col) if e.distinct else F.sum(col)
            return TC(c, arg.dtype if arg.is_numeric() else T.DoubleType())
        if name == "avg":
            return TC(F.avg(col), T.DoubleType())
        if name == "min":
            return TC(F.min(col), arg.dtype)
        if name == "max":
            return TC(F.max(col), arg.dtype)
        if name in ("stdev", "stddev", "stddev_samp"):
            return TC(F.stddev_samp(col), T.DoubleType())
        if name in ("stdevp", "stddev_pop"):
            return TC(F.stddev_pop(col), T.DoubleType())
        if name == "percentilecont":
            p = self.tc(e.args[1]).col
            return TC(F.percentile(col, p), T.DoubleType())
        if name == "percentiledisc":
            p = e.args[1].value if isinstance(e.args[1], A.Lit) else 0.5
            return TC(F.percentile_approx(col, F.lit(p), F.lit(1000000)), arg.dtype)
        raise NotImplementedError(name)

    # entity functions ------------------------------------------------

    def _entity_binding(self, arg: A.Expr) -> Binding | None:
        # lambda variables shadow pipeline bindings (x IN nodes(p) | ...)
        if isinstance(arg, A.Var) and arg.name not in self.lambda_vars:
            return self.scope.get(arg.name)
        return None

    def _f_id(self, e: A.FuncCall) -> TC:
        b = self._entity_binding(e.args[0])
        if b is not None and b.kind in ("vertex", "edge"):
            return TC(F.col(f"{b.var}__id"), T.LongType())
        # id(startNode(r)) / id(endNode(r)): the inner call already
        # yields the endpoint's graphid (a long) — id() is the identity
        # on it, not a struct-field extraction
        if (isinstance(e.args[0], A.FuncCall)
                and e.args[0].name.lower() in self._GRAPHID_FNS):
            return TC(self.tc(e.args[0]).col, T.LongType())
        return TC(self.tc(e.args[0]).col.getField("id"), T.LongType())

    def _f_label(self, e: A.FuncCall) -> TC:
        b = self._entity_binding(e.args[0])
        if b is not None:
            return TC(F.col(f"{b.var}__label"), T.StringType())
        return TC(self.tc(e.args[0]).col.getField("label"), T.StringType())

    _f_type = _f_label

    def _f_labels(self, e: A.FuncCall) -> TC:
        """label + ancestor closure (reference: vertex_labels, graph.c)."""
        b = self._entity_binding(e.args[0])
        if b is None:
            raise ValueError("labels() needs a vertex variable")
        lbl = F.col(f"{b.var}__label")
        out = None
        cands = b.labels or (self.catalog.vlabels() if self.catalog else [])
        for name in cands:
            closure = [name] + (self.catalog.ancestors(name) if self.catalog else [])
            arr = F.array(*[F.lit(x) for x in closure])
            out = F.when(lbl == name, arr) if out is None else out.when(lbl == name, arr)
        return TC(out if out is not None else F.array(lbl), T.ArrayType(T.StringType()))

    def _f_start(self, e: A.FuncCall) -> TC:
        b = self._entity_binding(e.args[0])
        if b is not None and b.kind == "edge":
            return TC(F.col(f"{b.var}__start"), T.LongType())
        return TC(self.tc(e.args[0]).col.getField("start"), T.LongType())

    def _f_end(self, e: A.FuncCall) -> TC:
        b = self._entity_binding(e.args[0])
        if b is not None and b.kind == "edge":
            return TC(F.col(f"{b.var}__end"), T.LongType())
        return TC(self.tc(e.args[0]).col.getField("end"), T.LongType())

    _f_startnode = _f_start
    _f_endnode = _f_end
    # start_vertex/end_vertex (reference cypher_funcs.c returns the
    # vertex composite; here the graphid — DELETE and id-comparisons
    # consume it, property projection should MATCH the endpoint)
    _f_start_vertex = _f_start
    _f_end_vertex = _f_end

    def _f_properties(self, e: A.FuncCall) -> TC:
        b = self._entity_binding(e.args[0])
        if b is not None and b.kind in ("vertex", "edge"):
            if not b.props:
                return TC(F.lit("{}"), T.StringType())
            from agensgraph_spark.graph import prop_display_name
            return TC(F.to_json(F.struct(*[F.col(f"{b.var}__{x}").alias(prop_display_name(x))
                                           for x in b.props])), T.StringType())
        return TC(self.tc(e.args[0]).col.getField("properties"), T.StringType())

    def _f_keys(self, e: A.FuncCall) -> TC:
        # keys({map literal}) — a map expression compiles to a struct;
        # its keys are the (static) field names, matching the
        # reference's jsonb_object_keys over an object literal
        if self._entity_binding(e.args[0]) is None:
            inner = self.tc(e.args[0])
            if isinstance(inner.dtype, T.StructType):
                return TC(F.array(*[F.lit(f.name) for f in inner.dtype.fields]),
                          T.ArrayType(T.StringType()))
            if isinstance(inner.dtype, T.MapType):
                return TC(F.map_keys(inner.col), T.ArrayType(T.StringType()))
        props = self._f_properties(e)
        return TC(F.json_object_keys(props.col), T.ArrayType(T.StringType()))

    # path functions ---------------------------------------------------

    def _path_var(self, arg: A.Expr) -> str | None:
        """Resolve a path-valued arg to its column prefix: a bound path
        variable, or a hoisted expression-position pathfind."""
        if isinstance(arg, A.Var):
            b = self.scope.get(arg.name)
            if b is not None and b.kind == "path":
                return arg.name
        if isinstance(arg, A.PathFindExpr):
            return self.subq_cols.get(id(arg))
        return None

    def _path_col(self, arg: A.Expr, suffix: str) -> Column:
        p = self._path_var(arg)
        if p is not None:
            return F.col(f"{p}__{suffix}")
        raise ValueError("expected a path variable")

    def _f_length(self, e: A.FuncCall) -> TC:
        arg = e.args[0]
        p = self._path_var(arg)
        if p is not None:
            return TC(F.col(f"{p}__len"), T.LongType())
        t = self.tc(arg)
        if t.is_array():
            return TC(F.size(t.col).cast("long"), T.LongType())
        return TC(F.length(t.col.cast("string")).cast("long"), T.LongType())

    def _f_nodes(self, e: A.FuncCall) -> TC:
        """Vertex composites of the path (reference: makeGraphpathDatum
        graph.c:1259 — _vertex array). The query compiler pre-joins the
        composite column (``__vnodes``) for every expression position
        (projections, WHERE, ORDER BY, UNWIND, write-clause values and
        property maps); a missing composite here means a compiler
        context skipped _materialize_path_composites — a bug, so fail
        loudly instead of silently degrading to a bare id array."""
        p = self._path_var(e.args[0])
        if p is not None and f"{p}__vnodes" in self.schema:
            return TC(F.col(f"{p}__vnodes"), self.schema[f"{p}__vnodes"])
        self._path_col(e.args[0], "vids")  # raises if not a path
        raise ValueError(
            "nodes(): path composites not materialized in this context "
            "(compiler bug — _materialize_path_composites not invoked)")

    _f_vertices = _f_nodes

    def _f_relationships(self, e: A.FuncCall) -> TC:
        p = self._path_var(e.args[0])
        if p is not None and f"{p}__enodes" in self.schema:
            return TC(F.col(f"{p}__enodes"), self.schema[f"{p}__enodes"])
        self._path_col(e.args[0], "eids")  # raises if not a path
        raise ValueError(
            "relationships(): path composites not materialized in this "
            "context (compiler bug — _materialize_path_composites not "
            "invoked)")

    _f_edges = _f_relationships

    # scalar / list functions -----------------------------------------

    def _f_unnest(self, e: A.FuncCall) -> TC:
        """SQL unnest as a Cypher SRF (cypher_dml.sql:1242): expands
        the array into rows. Spark allows ONE generator per projection
        and only at top level — the same constraint PostgreSQL puts on
        SRFs in unrelated positions."""
        t = self.tc(e.args[0])
        el = t.dtype.elementType if t.is_array() else None
        return TC(F.explode(t.col), el)

    def _f_size(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        if t.is_string():
            return TC(F.length(t.col).cast("long"), T.LongType())
        return TC(F.size(t.col).cast("long"), T.LongType())

    def _f_head(self, e: A.FuncCall) -> TC:
        # head([]) is null in Cypher — try_element_at, not element_at
        t = self.tc(e.args[0])
        return TC(F.try_element_at(t.col, F.lit(1)), t.dtype.elementType if t.is_array() else None)

    def _f_last(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        return TC(F.try_element_at(t.col, F.lit(-1)), t.dtype.elementType if t.is_array() else None)

    def _f_tail(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        return TC(F.slice(t.col, 2, F.greatest(F.size(t.col) - 1, F.lit(0))), t.dtype)

    def _f_range(self, e: A.FuncCall) -> TC:
        # openCypher extension (no reference analog): Neo4j semantics —
        # a direction-mismatched range (start > end with positive step,
        # or start < end with negative step) is EMPTY, whereas Spark's
        # sequence() would either infer a descending step (2-arg form,
        # silently wrong order) or raise (explicit step); found by the
        # round-11 expression fuzzer
        args = [self.tc(a).col.cast("long") for a in e.args]
        step = args[2] if len(args) > 2 else F.lit(1).cast("long")
        # mismatch -> []; NULL bounds fall through to sequence() and
        # propagate NULL; step = 0 falls through and raises, like Neo4j.
        # Sign comparison, NOT (end-start)*step < 0: the product can
        # overflow BIGINT for extreme bounds/steps and ANSI mode would
        # raise where Neo4j just returns the range/empty list
        mismatch = (((args[1] > args[0]) & (step < 0))
                    | ((args[1] < args[0]) & (step > 0)))
        return TC(F.when(mismatch, F.array().cast("array<long>"))
                  .otherwise(F.sequence(args[0], args[1], step)),
                  T.ArrayType(T.LongType()))

    def _f_coalesce(self, e: A.FuncCall) -> TC:
        ts = [self.tc(a) for a in e.args]
        return TC(F.coalesce(*[t.col for t in ts]), ts[0].dtype)

    def _f_isempty(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        if t.is_string():
            return TC(F.length(t.col) == 0, T.BooleanType())
        return TC(F.size(t.col) == 0, T.BooleanType())

    def _f_reverse(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        return TC(F.reverse(t.col), t.dtype)

    def _f_array_join(self, e: A.FuncCall) -> TC:
        # array_join(list, sep) — Postgres array_to_string analog (the
        # reference exposes Postgres fns from Cypher). F.array_join needs a
        # Python-str delimiter, so pull it from the literal AST node.
        t = self.tc(e.args[0])
        if len(e.args) > 1:
            if not isinstance(e.args[1], A.Lit):
                raise NotImplementedError(
                    "array_join separator must be a literal string")
            sep = e.args[1].value
        else:
            sep = ","
        return TC(F.array_join(t.col.cast("array<string>"), str(sep)), T.StringType())

    def _f_exists(self, e: A.FuncCall) -> TC:
        return TC(self.tc(e.args[0]).col.isNotNull(), T.BooleanType())

    # casts ------------------------------------------------------------

    def _c_Cast(self, e: A.Cast) -> TC:
        """PostgreSQL-style ``expr::type`` (cypher_expr.sql:88-100).
        ``::jsonb`` is identity (values are jsonb-modeled already);
        ``::bool`` is the jsonb TRUTHINESS matrix — false/0/''/[]/{}
        are false, everything non-empty is true — not a text parse."""
        t = e.type_name
        if t in ("jsonb", "json"):
            return self.tc(e.operand)
        if t in ("text", "varchar", "string"):
            # jsonb::text is the jsonb SERIALIZATION, not the bare
            # value: '"'::text -> "\"" and '\n'::text -> "\n"
            # (cypher_expr.out:62-66) — strings are JSON-quoted and
            # escaped, arrays/maps serialize as JSON. to_json(array(x))
            # then stripping the brackets reuses Jackson's escaping for
            # any element type. Numerics/booleans serialize bare (jsonb
            # numeric/bool text form == Spark's string cast). Operands
            # of unknown dtype keep the bare string cast (they are
            # already jsonb text at that point).
            tcv = self.tc(e.operand)
            d = tcv.dtype
            if d is not None and isinstance(
                    d, (T.StringType, T.ArrayType, T.MapType, T.StructType)):
                js = F.to_json(F.array(tcv.col))
                col = F.when(tcv.col.isNotNull(),
                             js.substr(F.lit(2), F.length(js) - F.lit(2)))
                return TC(col, T.StringType())
            return TC(tcv.col.cast("string"), T.StringType())
        if t in ("int", "int2", "int4", "int8", "integer", "bigint", "smallint"):
            # jsonb::int8 = jsonb_int8 -> numeric_int8 (jsonb.c:2036-2045):
            # rounds half away from zero. A double round-trip would
            # corrupt integers above 2^53 (graph ids with labid >= 32
            # live above bit 48), so integral operands cast directly and
            # everything else goes through decimal, which keeps the full
            # int64 range exact.
            return TC(self._to_long(self.tc(e.operand), rounding=True),
                      T.LongType())
        if t in ("float", "float4", "float8", "real", "numeric", "double",
                 "decimal"):
            return TC(self.tc(e.operand).col.cast("double"), T.DoubleType())
        if t in ("bool", "boolean"):
            tcv = self.tc(e.operand)
            d = tcv.dtype
            if d is None or isinstance(d, T.NullType):
                col = F.lit(None).cast("boolean")
            elif isinstance(d, T.BooleanType):
                col = tcv.col
            elif tcv.is_numeric():
                col = tcv.col != F.lit(0)
            elif isinstance(d, T.StringType):
                col = F.length(tcv.col) > 0
            elif isinstance(d, (T.ArrayType, T.MapType)):
                col = F.size(tcv.col) > 0
            elif isinstance(d, T.StructType):
                # width is static but a NULL struct must stay NULL
                col = F.when(tcv.col.isNotNull(), F.lit(len(d.fields) > 0))
            else:
                col = tcv.col.cast("boolean")
            return TC(col, T.BooleanType())
        raise ValueError(f"unsupported cast target {t!r}")

    @staticmethod
    def _to_long(tcv: TC, rounding: bool) -> Column:
        """int64-exact long conversion. Integral/boolean operands cast
        directly (a double hop silently corrupts values above 2^53);
        fractional/string/unknown operands go through decimal(38,9) —
        rounded half-away-from-zero for ``::int`` (numeric_int8) or
        truncated toward zero for ``toInteger`` (Neo4j semantics,
        matching Spark's decimal->long cast)."""
        d = tcv.dtype
        if d is not None and isinstance(d, (T.LongType, T.IntegerType,
                                            T.ShortType, T.ByteType,
                                            T.BooleanType)):
            return tcv.col.cast("long")
        dec = tcv.col.cast("decimal(38,9)")
        return (F.round(dec) if rounding else dec).cast("long")

    def _f_tostring(self, e: A.FuncCall) -> TC:
        return TC(self.tc(e.args[0]).col.cast("string"), T.StringType())

    def _f_tointeger(self, e: A.FuncCall) -> TC:
        return TC(self._to_long(self.tc(e.args[0]), rounding=False),
                  T.LongType())

    _f_toint = _f_tointeger

    def _f_tofloat(self, e: A.FuncCall) -> TC:
        return TC(self.tc(e.args[0]).col.cast("double"), T.DoubleType())

    def _f_toboolean(self, e: A.FuncCall) -> TC:
        return TC(self.tc(e.args[0]).col.cast("boolean"), T.BooleanType())

    # strings ----------------------------------------------------------

    def _f_toupper(self, e: A.FuncCall) -> TC:
        return TC(F.upper(self.tc(e.args[0]).col.cast("string")), T.StringType())

    _f_upper = _f_toupper

    def _f_tolower(self, e: A.FuncCall) -> TC:
        return TC(F.lower(self.tc(e.args[0]).col.cast("string")), T.StringType())

    _f_lower = _f_tolower

    def _f_trim(self, e: A.FuncCall) -> TC:
        return TC(F.trim(self.tc(e.args[0]).col.cast("string")), T.StringType())

    def _f_ltrim(self, e: A.FuncCall) -> TC:
        return TC(F.ltrim(self.tc(e.args[0]).col.cast("string")), T.StringType())

    def _f_rtrim(self, e: A.FuncCall) -> TC:
        return TC(F.rtrim(self.tc(e.args[0]).col.cast("string")), T.StringType())

    def _f_replace(self, e: A.FuncCall) -> TC:
        s, frm, to = (self.tc(a).col.cast("string") for a in e.args)
        return TC(F.replace(s, frm, to), T.StringType())

    def _f_split(self, e: A.FuncCall) -> TC:
        s, d = self.tc(e.args[0]).col.cast("string"), e.args[1]
        import re as _re
        delim = _re.escape(d.value) if isinstance(d, A.Lit) else self.tc(d).col
        return TC(F.split(s, delim), T.ArrayType(T.StringType()))

    def _f_left(self, e: A.FuncCall) -> TC:
        s, n = self.tc(e.args[0]).col.cast("string"), self.tc(e.args[1]).col.cast("int")
        return TC(F.substring(s, 1, n), T.StringType())

    def _f_right(self, e: A.FuncCall) -> TC:
        s, n = self.tc(e.args[0]).col.cast("string"), self.tc(e.args[1]).col.cast("int")
        return TC(s.substr(F.length(s) - n + 1, n), T.StringType())

    def _f_substring(self, e: A.FuncCall) -> TC:
        """Cypher substring is 0-based (reference:
        parse_cypher_expr.c:929-962 adjusts the start index). A
        negative start clips the WINDOW, not just the start: with an
        explicit length the window is [start, start+length) intersected
        with the string (so substring('123', -1, 1) = '' — AG246,
        cypher_substring.sql); without a length it reads to the end."""
        s = self.tc(e.args[0]).col.cast("string")
        start0 = self.tc(e.args[1]).col.cast("int")
        begin = F.greatest(start0, F.lit(0)) + 1
        if len(e.args) > 2:
            ln = self.tc(e.args[2]).col.cast("int")
            eff = F.greatest(ln + F.least(start0, F.lit(0)), F.lit(0))
            return TC(s.substr(begin, eff), T.StringType())
        return TC(s.substr(begin, F.length(s)), T.StringType())

    # math -------------------------------------------------------------

    def _num1(self, e: A.FuncCall, fn, out=T.DoubleType()) -> TC:
        return TC(fn(self.tc(e.args[0]).col.cast("double")), out)

    def _f_abs(self, e: A.FuncCall) -> TC:
        t = self.tc(e.args[0])
        return TC(F.abs(t.col), t.dtype)

    def _f_ceil(self, e: A.FuncCall) -> TC:
        return TC(F.ceil(self.tc(e.args[0]).col.cast("double")).cast("double"), T.DoubleType())

    def _f_floor(self, e: A.FuncCall) -> TC:
        return TC(F.floor(self.tc(e.args[0]).col.cast("double")).cast("double"), T.DoubleType())

    def _f_round(self, e: A.FuncCall) -> TC:
        c = self.tc(e.args[0]).col
        n = self.tc(e.args[1]).col if len(e.args) > 1 else F.lit(0)
        if isinstance(e.args[1] if len(e.args) > 1 else A.Lit(0), A.Lit):
            scale = e.args[1].value if len(e.args) > 1 else 0
            return TC(F.round(c, scale), T.DoubleType())
        return TC(F.round(c, 0), T.DoubleType())

    def _f_sign(self, e: A.FuncCall) -> TC:
        return self._num1(e, F.signum)

    def _f_sqrt(self, e: A.FuncCall) -> TC:
        return self._num1(e, F.sqrt)

    def _f_exp(self, e: A.FuncCall) -> TC:
        return self._num1(e, F.exp)

    def _f_log(self, e: A.FuncCall) -> TC:
        return self._num1(e, F.log)  # Cypher log = natural log (ln alias, parse_cypher_expr.c:894)

    _f_ln = _f_log

    def _f_log10(self, e: A.FuncCall) -> TC:
        return self._num1(e, F.log10)

    def _f_sin(self, e): return self._num1(e, F.sin)
    def _f_cos(self, e): return self._num1(e, F.cos)
    def _f_tan(self, e): return self._num1(e, F.tan)
    def _f_cot(self, e): return self._num1(e, lambda c: 1.0 / F.tan(c))
    def _f_asin(self, e): return self._num1(e, F.asin)
    def _f_acos(self, e): return self._num1(e, F.acos)
    def _f_atan(self, e): return self._num1(e, F.atan)
    def _f_degrees(self, e): return self._num1(e, F.degrees)
    def _f_radians(self, e): return self._num1(e, F.radians)

    def _f_atan2(self, e: A.FuncCall) -> TC:
        return TC(F.atan2(self.tc(e.args[0]).col.cast("double"), self.tc(e.args[1]).col.cast("double")), T.DoubleType())

    def _f_pi(self, e: A.FuncCall) -> TC:
        import math
        return TC(F.lit(math.pi), T.DoubleType())

    def _f_e(self, e: A.FuncCall) -> TC:
        import math
        return TC(F.lit(math.e), T.DoubleType())

    def _f_rand(self, e: A.FuncCall) -> TC:
        return TC(F.rand(), T.DoubleType())

    def _f_timestamp(self, e: A.FuncCall) -> TC:
        return TC((F.unix_timestamp(F.current_timestamp()) * 1000).cast("long"), T.LongType())

    # ---- temporal (reference: PG date/timestamp functions the Cypher
    # position reaches through function-call syntax — date.c,
    # timestamp.c). date_add/date_sub need dedicated impls: Cypher
    # integers are BIGINT and Spark's date_add requires INT, so the
    # generic fallback fails analysis on any Cypher-supplied day count.
    def _f_date_add(self, e: A.FuncCall) -> TC:
        d = self.tc(e.args[0]).col
        n = self.tc(e.args[1]).col.cast("int")
        return TC(F.date_add(d, n), T.DateType())

    def _f_date_sub(self, e: A.FuncCall) -> TC:
        d = self.tc(e.args[0]).col
        n = self.tc(e.args[1]).col.cast("int")
        return TC(F.date_sub(d, n), T.DateType())

    def _f_datediff(self, e: A.FuncCall) -> TC:
        a, b = self.tc(e.args[0]).col, self.tc(e.args[1]).col
        return TC(F.datediff(a, b).cast("long"), T.LongType())

    def _f_to_char(self, e: A.FuncCall) -> TC:
        """PG to_char reachable from the query dialect exactly as the
        reference's Cypher reaches PG functions (formatting.c). The
        pattern must be a string literal (it drives plan construction);
        dispatch on the argument's compiled type — temporal templates
        vs numeric digit pictures (a picture always contains 9/0,
        temporal templates never do, so unknown types fall back to the
        pattern shape)."""
        from agensgraph_spark import sqlfuncs as SQLF
        if len(e.args) != 2 or not (isinstance(e.args[1], A.Lit)
                                    and isinstance(e.args[1].value, str)):
            raise NotImplementedError(
                "to_char requires (expr, 'pattern literal')")
        t = self.tc(e.args[0])
        pat = e.args[1].value
        if isinstance(t.dtype, (T.DateType, T.TimestampType)):
            return TC(SQLF.to_char(t.col, pat), T.StringType())
        if isinstance(t.dtype, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType, T.FloatType, T.DoubleType,
                                T.DecimalType)):
            return TC(SQLF.to_char_number(t.col, pat), T.StringType())
        if any(ch in pat for ch in "90"):
            return TC(SQLF.to_char_number(t.col, pat), T.StringType())
        return TC(SQLF.to_char(t.col, pat), T.StringType())

    def _f_age(self, e: A.FuncCall) -> TC:
        from agensgraph_spark import sqlfuncs as SQLF
        a, b = self.tc(e.args[0]).col, self.tc(e.args[1]).col
        return TC(SQLF.age(a, b), None)

    def _pg_parse_2arg(self, e: A.FuncCall, fn, dtype,
                       lax: bool = False) -> TC:
        # 2-arg form = PG input template (formatting.c:do_to_timestamp)
        # and the template MUST be a string literal — a non-literal
        # second argument refuses loudly instead of silently dropping
        # the template (round-11 review finding); 1-arg keeps Spark's
        # ISO-string cast behavior
        if len(e.args) == 1:
            if lax:
                c = F.try_to_timestamp(self.tc(e.args[0]).col)
                c = c.cast("date") if dtype == "date" else c
            else:
                base = F.to_date if dtype == "date" else F.to_timestamp
                c = base(self.tc(e.args[0]).col)
            return TC(c, T.DateType() if dtype == "date"
                      else T.TimestampType())
        if (len(e.args) != 2 or not isinstance(e.args[1], A.Lit)
                or not isinstance(e.args[1].value, str)):
            raise NotImplementedError(
                "to_date/to_timestamp require (expr) or "
                "(expr, 'template literal')")
        return TC(fn(self.tc(e.args[0]).col, e.args[1].value),
                  T.DateType() if dtype == "date" else T.TimestampType())

    def _f_to_date(self, e: A.FuncCall) -> TC:
        from agensgraph_spark import sqlfuncs as SQLF
        return self._pg_parse_2arg(e, SQLF.to_date, "date")

    def _f_to_timestamp(self, e: A.FuncCall) -> TC:
        from agensgraph_spark import sqlfuncs as SQLF
        return self._pg_parse_2arg(e, SQLF.to_timestamp, "timestamp")

    def _f_try_to_date(self, e: A.FuncCall) -> TC:
        # lax PG-style parse: NULL on malformed input, non-padded digit
        # fields tolerated (sqlfuncs.try_to_date)
        from agensgraph_spark import sqlfuncs as SQLF
        return self._pg_parse_2arg(e, SQLF.try_to_date, "date", lax=True)

    def _f_try_to_timestamp(self, e: A.FuncCall) -> TC:
        from agensgraph_spark import sqlfuncs as SQLF
        return self._pg_parse_2arg(e, SQLF.try_to_timestamp, "timestamp",
                                   lax=True)

    def _f_make_date(self, e: A.FuncCall) -> TC:
        y, m, d = [self.tc(a).col for a in e.args]
        return TC(F.make_date(y, m, d), T.DateType())

    def _f_to_number(self, e: A.FuncCall) -> TC:
        from agensgraph_spark import sqlfuncs as SQLF
        if (len(e.args) != 2 or not isinstance(e.args[1], A.Lit)
                or not isinstance(e.args[1].value, str)):
            raise NotImplementedError(
                "to_number requires (expr, 'picture literal')")
        return TC(SQLF.to_number(self.tc(e.args[0]).col,
                                 e.args[1].value), None)

    def _generic_func(self, e: A.FuncCall) -> TC:
        """Fallback: any pyspark.sql.functions name (SQL-side surface)."""
        fn = getattr(F, e.name, None)
        if fn is None:
            raise NotImplementedError(f"function {e.name!r} not supported")
        return TC(fn(*[self.tc(a).col for a in e.args]), None)
