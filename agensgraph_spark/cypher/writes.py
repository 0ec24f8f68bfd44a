"""Cypher write clauses (CREATE / DELETE / SET / REMOVE / MERGE) as
snapshot-producing batch operations.

The reference drives writes through the ModifyGraph executor node
(reference: src/backend/executor/nodeModifyGraph.c:296 ExecModifyGraph
dispatching to execCypherCreate.c:30 ExecCreateGraph,
execCypherDelete.c:45, execCypherSet.c:141, execCypherMerge.c:35) with
MVCC visibility plus optional eager tuplestore buffering
(nodeModifyGraph.c:339-369) so later clauses observe earlier writes.

Spark-native shape: every write clause computes a *change-set
DataFrame* and swaps new immutable label frames into a working copy of
the Graph; downstream clauses in the same statement scan the working
copy, so the reference's eager semantics hold by construction — no
tuplestore, no visibility machinery. On commit the changed frames are
materialized (lineage cut) and become the engine's new snapshot; at
scale the same change-sets append/overwrite Parquet label snapshots
(`Graph.write_snapshot`) instead of memory.

Statistics: the reference keeps ag_graphmeta current from write stats
(graphmeta.c regather_graphmeta), so a write reads the catalog, never
whole tables. Here the working copy inherits the graph's label counts
and (edge label, start labid, end labid) triples, and each clause folds
in counters it computes anyway: CREATE its row span (plus one aggregate
over the checkpointed new edges for their triples), DELETE the groupBy
that counts its victims. DETACH DELETE scans only the edge labels with a
triple touching a victim's labid. Where a triple split is unknown the
triples drop to None (no statistics), never to a stale value.

Id allocation: the reference draws 48-bit locids from a per-graph
sequence (src/backend/commands/graphcmds.c:79-87 ag_label_seq). Here
each label's next locid is a mark carried on the Graph, seeded by one
max scan the first time the label is written and advanced by every
commit; like the sequence, it never hands out a deleted locid again. A
batch of created elements takes ``next_locid + dense_uid`` where the
dense uid is derived from monotonically_increasing_id() plus one tiny
per-partition row-count aggregate (partition-offset scheme) — still
embarrassingly parallel and coordination-free, but each statement
advances the locid by exactly its row count, so repeated CREATEs never
overflow the 48-bit locid space into labid bits. The input pipeline is
checkpointed before minting so ids are stable against recomputation.
"""

from __future__ import annotations

import copy as _copy
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agensgraph_spark.cypher import ast as A
from agensgraph_spark.cypher.scope import Binding
from agensgraph_spark.graph import Graph, prop_col_name, prop_display_name
from agensgraph_spark.graphid import LOCID_MASK, graphid_col, labid_col, locid_col
from agensgraph_spark.operators import _superstep as S

DEFAULT_VLABEL = "ag_vertex"


@dataclass
class WriteStats:
    """Mirror of the reference's graphWriteStats counters
    (nodeModifyGraph.c:459-475; surfaced by
    get_last_graph_write_stats(), cypher_funcs.c:1186)."""
    insertedvertices: int = 0
    insertededges: int = 0
    deletedvertices: int = 0
    deletededges: int = 0
    updatedproperties: int = 0

    def as_dict(self) -> dict[str, int]:
        return dict(self.__dict__)


@dataclass
class WriteContext:
    """Per-statement working state: a forked Graph whose frames mutate
    clause-by-clause, plus stats and the set of touched labels. The
    fork carries the graph's statistics and locid marks; every clause
    folds its row deltas into them, so the commit installs them exact
    and a rollback discards them with the fork."""
    graph: Graph
    stats: WriteStats = field(default_factory=WriteStats)
    touched: set[str] = field(default_factory=set)
    # per kind ("v"/"e"): the ids earlier DELETE clauses of this
    # statement removed — small checkpointed victim frames, plus lazy
    # incident-edge ids of a DETACH; read only by a repeated delete
    gone: dict[str, DataFrame] = field(default_factory=dict)

    @classmethod
    def begin(cls, graph: Graph) -> "WriteContext":
        return cls(graph=graph.fork())

    def ensure_label(self, label: str, kind: str) -> None:
        """Create a label the statement writes into; it enters the
        statistics with 0 rows."""
        if label not in self.graph.catalog.labels:
            self.graph.catalog.create_label(label, kind)
            self.graph.note_rows(label, 0)

    def note_gone(self, kind: str, ids: DataFrame) -> None:
        prev = self.gone.get(kind)
        self.gone[kind] = ids if prev is None else prev.unionByName(ids)

    def retire(self, groups: list[tuple], kind: str) -> dict[str, int]:
        """Fold a DELETE's victim groups — (label, (start labid, end
        labid) or None when unknown, rows, highest locid) — into the
        statement's counters, the working graph's statistics and its
        locid floors. Returns the rows deleted per label."""
        per: dict[str, int] = {}
        pairs: dict[str, dict | None] = {}
        for lbl, pair, n, top in groups:
            per[lbl] = per.get(lbl, 0) + n
            if pair is None or pairs.get(lbl, {}) is None:
                pairs[lbl] = None
            else:
                acc = pairs.setdefault(lbl, {})
                acc[pair] = acc.get(pair, 0) - n
            self.graph.note_deleted_locid(lbl, top)
        for lbl, n in per.items():
            self.graph.note_rows(lbl, -n, pairs[lbl])
        if kind == "v":
            self.stats.deletedvertices += sum(per.values())
        else:
            self.stats.deletededges += sum(per.values())
        return per

    # ---- frame mutation ----

    @staticmethod
    def _pin_null_arrays(df: DataFrame, types: dict | None = None) -> DataFrame:
        """array<null> columns (empty-list literals) adopt the existing
        frame's element type, or array<string> when the frame has none —
        NullType columns cannot reach Parquet and would make union
        coercion direction-dependent."""
        import pyspark.sql.types as _T
        for f in df.schema.fields:
            if isinstance(f.dataType, _T.ArrayType) \
                    and isinstance(f.dataType.elementType, _T.NullType):
                tgt = (types or {}).get(f.name)
                if not isinstance(tgt, _T.ArrayType):
                    tgt = _T.ArrayType(_T.StringType())
                df = df.withColumn(f.name, F.col(f.name).cast(tgt))
        return df

    def append(self, label: str, new_rows: DataFrame) -> None:
        cur = self.graph.frames.get(label)
        if cur is None:
            self.graph.frames[label] = self._pin_null_arrays(new_rows)
        else:
            cur_types = {f.name: f.dataType for f in cur.schema.fields}
            new_rows = self._pin_null_arrays(new_rows, cur_types)
            new_types = {f.name: f.dataType for f in new_rows.schema.fields}
            cur = self._pin_null_arrays(cur, new_types)
            self.graph.frames[label] = cur.unionByName(new_rows, allowMissingColumns=True)
        self.touched.add(label)

    def replace(self, label: str, df: DataFrame) -> None:
        self.graph.frames[label] = df
        self.touched.add(label)

    def ensure_props(self, label: str, schema: dict[str, str]) -> None:
        meta = self.graph.catalog.labels[label]
        for k, t in schema.items():
            meta.props.setdefault(k, t)


class WriteMixin:
    """Write-clause compilation, mixed into QueryCompiler. Expects:
    self.df, self.scope, self.graph, self.params, self._ec(),
    self._ensure_df(), self.wctx (WriteContext)."""

    # ------------------------------------------------------------------
    # CREATE  (reference: execCypherCreate.c:30 ExecCreateGraph —
    # instantiate the pattern once per input row)
    # ------------------------------------------------------------------

    def _pattern_prop_exprs(self, pats) -> list:
        """Property-map value expressions of a pattern list — the
        write-clause positions where nodes(p)/relationships(p) need
        composite materialization before evaluation."""
        out = []
        for pat in pats:
            for el in pat.elements:
                props = getattr(el, "props", None)
                if props is not None:
                    out.extend(v for _, v in props.items)
        return out

    def _compile_create(self, c: A.Create) -> None:
        self._begin_write()
        if self.df is not None:
            self._materialize_path_composites(
                self._pattern_prop_exprs(c.patterns))
        df = self._ensure_df()
        # Dense per-batch uids. monotonically_increasing_id() alone
        # jumps 2^33 between partitions — using its max as the locid
        # span burns ~2^33 ids per partition per statement and can
        # overflow the 48-bit locid into labid bits. Instead: the raw
        # id encodes (partition << 33) | row-in-partition with row
        # numbers contiguous from 0, so one tiny per-partition count
        # (rows per partition, never the rows themselves) turns it
        # into a dense 0..n-1 uid — no global window, no RDD pass.
        df = df.withColumn("__mid", F.monotonically_increasing_id())
        df = S.truncate(df)  # pin ids against recompute
        part = F.shiftrightunsigned(F.col("__mid"), 33)
        counts = sorted(
            df.groupBy(part.alias("__p")).count().collect(),
            key=lambda r: r["__p"])
        offsets: list[tuple[int, int]] = []
        span = 0
        for r in counts:
            offsets.append((r["__p"], span))
            span += r["count"]
        off_expr = F.lit(0).cast("long")
        if offsets:
            pairs = [x for p, o in offsets for x in (F.lit(p), F.lit(o))]
            off_expr = F.create_map(*pairs)[part].cast("long")
        df = df.withColumn(
            "__uid", off_expr + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
        ).drop("__mid")
        self.df = df
        for pat in c.patterns:
            self._create_pattern(pat, span)
        self.df = self.df.drop("__uid")

    def _create_pattern(self, pat: A.PathPattern, span: int) -> None:
        els = pat.elements
        if pat.kind != "plain":
            raise ValueError("CREATE pattern cannot use path-finding forms")
        # nodes first (so edges can reference both endpoints)
        node_vars: list[str] = []
        for i in range(0, len(els), 2):
            node_vars.append(self._create_node(els[i], span))
        evars: list[str] = []
        for i in range(1, len(els), 2):
            rel: A.RelPat = els[i]
            evars.append(self._create_edge(rel, node_vars[(i - 1) // 2], node_vars[(i + 1) // 2], span))
        if pat.var is not None:
            vids = [F.array(F.col(f"{v}__id")) for v in node_vars]
            eids = [F.array(F.col(f"{e}__id")) for e in evars]
            self.df = (self.df
                       .withColumn(f"{pat.var}__vids", F.concat(*vids))
                       .withColumn(f"{pat.var}__eids",
                                   F.concat(*eids) if eids else F.array().cast("array<long>"))
                       .withColumn(f"{pat.var}__len", F.lit(len(eids)).cast("long")))
            self.scope.bind(Binding(pat.var, "path"))

    def _eval_props(self, props: A.MapLit | None) -> list[tuple[str, Column]]:
        if props is None:
            return []
        ec = self._ec()
        out: list[tuple[str, Column]] = []
        for key, val in props.items:
            if key == "__param__":
                pv = self.params.get(val.name) if isinstance(val, A.Param) else None
                if not isinstance(pv, dict):
                    raise ValueError("property parameter must be a map")
                for k2, v2 in pv.items():
                    out.append((k2, F.lit(v2)))
                continue
            if key == "__copy__":
                # whole-map assignment: keys must be statically known —
                # properties(var) expands to the binding's columns, a map
                # literal to its entries (cypher_eager.sql:48 CREATE-SET)
                from agensgraph_spark.graph import prop_display_name
                if (isinstance(val, A.FuncCall)
                        and val.name.lower() in ("properties",)
                        and len(val.args) == 1 and isinstance(val.args[0], A.Var)):
                    src = val.args[0].name
                    b = self.scope.get(src)
                    if b is None or b.kind not in ("vertex", "edge"):
                        raise ValueError(
                            f"properties({src}) needs a bound vertex/edge")
                    for p in b.props:
                        out.append((prop_display_name(p), F.col(f"{src}__{p}")))
                    continue
                if isinstance(val, A.Var):
                    # CREATE (=r): a bare row/entity binding's columns
                    # become the map (implicit LOAD, cypher_dml.sql:1228)
                    b = self.scope.get(val.name)
                    if b is not None and b.kind in ("row", "vertex", "edge") and b.props:
                        for p in b.props:
                            out.append((prop_display_name(p),
                                        F.col(f"{val.name}__{p}")))
                        continue
                if isinstance(val, A.MapLit):
                    for k2, v2 in val.items:
                        out.append((k2, ec.col(v2)))
                    continue
                raise NotImplementedError(
                    "whole-map property assignment supports properties(var) "
                    "and map literals (flat typed columns need static keys)")
            out.append((key, ec.col(val)))
        return out

    def _create_node(self, node: A.NodePat, span: int) -> str:
        var = node.var or self.scope.fresh_anon()
        bound = self.scope.get(var)
        if bound is not None:
            if bound.kind != "vertex":
                raise ValueError(f"variable {var!r} already bound as {bound.kind}")
            if node.labels or node.props:
                raise ValueError(f"bound variable {var!r} cannot take labels/properties in CREATE")
            return var
        if len(node.labels) > 1:
            raise ValueError("CREATE node takes at most one label")
        label = node.labels[0] if node.labels else DEFAULT_VLABEL
        g = self.wctx.graph
        self.wctx.ensure_label(label, "v")
        labid = g.catalog.labels[label].labid

        base = g.next_locid(label)
        if base + span - 1 > LOCID_MASK:
            raise ValueError(
                f"locid overflow for label {label!r}: base={base} + span={span} "
                f"exceeds 48-bit locid space")
        prop_cols = [(prop_col_name(k), col) for k, col in self._eval_props(node.props)]
        id_col = graphid_col(labid, F.lit(base) + F.col("__uid"))
        self.df = self.df.withColumn(f"{var}__id", id_col) \
                         .withColumn(f"{var}__label", F.lit(label))
        for k, col in prop_cols:
            self.df = self.df.withColumn(f"{var}__{k}", col)
        self.df = S.truncate(self.df)

        new_rows = self.df.select(
            F.col(f"{var}__id").alias("id"),
            *[F.col(f"{var}__{k}").alias(k) for k, _ in prop_cols],
        )
        types = dict(zip(new_rows.columns, [f.dataType.simpleString() for f in new_rows.schema.fields]))
        self.wctx.ensure_props(label, {
            prop_display_name(k): types[k] for k, _ in prop_cols})
        self.wctx.append(label, new_rows)
        g.advance_locid(label, span)
        # span IS the pipeline row count (derived driver-side by the
        # id-allocation partition-count pass) — no per-element count job
        g.note_rows(label, span)
        self.wctx.stats.insertedvertices += span
        self.scope.bind(Binding(var, "vertex", labels=[label], props=[k for k, _ in prop_cols]))
        return var

    def _create_edge(self, rel: A.RelPat, lvar: str, rvar: str, span: int) -> str:
        if rel.varlen:
            raise ValueError("CREATE cannot use variable-length relationships")
        if rel.direction == "undir":
            raise ValueError("CREATE relationship must be directed")
        if len(rel.types) != 1:
            raise ValueError("CREATE relationship needs exactly one type")
        var = rel.var or self.scope.fresh_anon()
        if self.scope.get(var) is not None:
            raise ValueError(f"edge variable {var!r} already bound")
        label = rel.types[0]
        g = self.wctx.graph
        self.wctx.ensure_label(label, "e")
        labid = g.catalog.labels[label].labid

        src, dst = (lvar, rvar) if rel.direction == "out" else (rvar, lvar)
        base = g.next_locid(label)
        if base + span - 1 > LOCID_MASK:
            raise ValueError(
                f"locid overflow for label {label!r}: base={base} + span={span} "
                f"exceeds 48-bit locid space")
        prop_cols = [(prop_col_name(k), col) for k, col in self._eval_props(rel.props)]
        self.df = self.df.withColumn(f"{var}__id", graphid_col(labid, F.lit(base) + F.col("__uid"))) \
                         .withColumn(f"{var}__start", F.col(f"{src}__id")) \
                         .withColumn(f"{var}__end", F.col(f"{dst}__id")) \
                         .withColumn(f"{var}__label", F.lit(label))
        for k, col in prop_cols:
            self.df = self.df.withColumn(f"{var}__{k}", col)
        self.df = S.truncate(self.df)

        new_rows = self.df.select(
            F.col(f"{var}__id").alias("id"),
            F.col(f"{var}__start").alias("start"),
            F.col(f"{var}__end").alias("end"),
            *[F.col(f"{var}__{k}").alias(k) for k, _ in prop_cols],
        )
        types = dict(zip(new_rows.columns, [f.dataType.simpleString() for f in new_rows.schema.fields]))
        self.wctx.ensure_props(label, {
            prop_display_name(k): types[k] for k, _ in prop_cols})
        self.wctx.append(label, new_rows)
        g.advance_locid(label, span)
        # the triple split of the new edges: one aggregate over the
        # checkpointed pipeline, skipped when nothing keeps triples
        pairs = None
        if g.edge_triples() is not None:
            pairs = {}
            if span:
                pairs = {(r["s"], r["e"]): r["count"] for r in new_rows.groupBy(
                    labid_col(F.col("start")).alias("s"),
                    labid_col(F.col("end")).alias("e")).count().collect()}
        g.note_rows(label, span, pairs)
        self.wctx.stats.insertededges += span
        self.scope.bind(Binding(var, "edge", labels=[label], props=[k for k, _ in prop_cols]))
        return var

    # ------------------------------------------------------------------
    # DELETE / DETACH DELETE  (reference: execCypherDelete.c:45,215 —
    # non-detach vertex delete errors while edges remain)
    # ------------------------------------------------------------------

    def _compile_delete(self, d: A.Delete) -> None:
        self._begin_write()
        if self.df is None:
            raise ValueError("DELETE requires a preceding reading clause")
        # nodes(p)/relationships(p) in victim expressions resolve to
        # full composites, same as in projections (makeGraphpathDatum,
        # graph.c:1259) — pre-join them here so the expression layer
        # never falls back to bare id arrays
        self._materialize_path_composites(list(d.exprs))
        v_victims: list[DataFrame] = []
        e_victims: list[DataFrame] = []
        for e in d.exprs:
            if not isinstance(e, A.Var):
                # entity-valued EXPRESSION: vertices(p)[i],
                # start_vertex(r)/end_vertex(r) — delete by its id
                # (cypher_dml.sql:658-662); kind from the expression root
                kind = self._delete_expr_kind(e)
                ec = self._ec()
                t = ec.tc(e)
                import pyspark.sql.types as _T
                col = t.col
                if isinstance(t.dtype, _T.StructType) and any(
                        f.name == "id" for f in t.dtype.fields):
                    col = col.getField("id")
                victims = self.df.select(col.cast("long").alias("id"))                                  .where(F.col("id").isNotNull()).distinct()
                (v_victims if kind == "v" else e_victims).append(victims)
                continue
            b = self.scope.require(e.name)
            if b.kind == "vertex":
                v_victims.append(self.df.select(F.col(f"{e.name}__id").alias("id")).distinct())
            elif b.kind == "edge":
                # the endpoints ride along when the binding has them, so
                # the victim count also splits the deletion by triple
                ends = [F.col(f"{e.name}__{c}").alias(c) for c in ("start", "end")
                        if f"{e.name}__{c}" in self.df.columns]
                e_victims.append(self.df.select(
                    F.col(f"{e.name}__id").alias("id"),
                    *(ends if len(ends) == 2 else [])).distinct())
            elif b.kind == "path":
                v_victims.append(self.df.select(F.explode(f"{e.name}__vids").alias("id")).distinct())
                e_victims.append(self.df.select(F.explode(f"{e.name}__eids").alias("id")).distinct())
            else:
                raise ValueError(f"cannot DELETE {b.kind} variable {e.name!r}")

        vdf = self._union_ids(v_victims)
        edf = self._union_ids(e_victims)
        g = self.wctx.graph

        # Explicit edge victims FIRST: the incident-edge pass below then
        # runs against already-updated frames, so an edge that is both
        # explicitly deleted and incident to a deleted vertex is counted
        # (and removed) exactly once, and the non-detach dangling check
        # needs no manual edf exclusion. Stats come from per-label
        # victim counts (one tiny job per victim frame, not two frame
        # counts per label). The rewritten frames stay lazy: the commit
        # materializes each touched label once.
        if edf is not None:
            edf = S.truncate(edf)
            per = self.wctx.retire(self._victim_groups(edf, "e"), "e")
            eids = edf.select(F.col("id").alias("__eid"))
            for lbl in per:
                f = g.frames[lbl]
                self.wctx.replace(lbl, f.join(eids, f["id"] == F.col("__eid"), "left_anti"))
            self.wctx.note_gone("e", edf.select("id"))
        if vdf is not None:
            vdf = S.truncate(vdf)
            vgroups = self._victim_groups(vdf, "v")
            labids = {g.catalog.labels[lbl].labid for lbl, *_ in vgroups}
            vids = vdf.select(F.col("id").alias("__vid"))
            incident, hit = self._incident_groups(vids, labids)
            if not d.detach:
                # any surviving incident edge → error (reference parity)
                if incident:
                    lbl = sorted(grp[0] for grp in incident)[0]
                    raise ValueError(
                        f"vertices in {lbl!r} still have edges; use DETACH DELETE")
            else:
                for lbl in self.wctx.retire(incident, "e"):
                    self.wctx.replace(lbl, self._detach_keep(g.frames[lbl], vids))
                if incident:
                    self.wctx.note_gone("e", hit.select("id"))
            for lbl in self.wctx.retire(vgroups, "v"):
                f = g.frames[lbl]
                self.wctx.replace(lbl, f.join(vids, f["id"] == F.col("__vid"), "left_anti"))
            self.wctx.note_gone("v", vdf.select("id"))

    def _delete_expr_kind(self, e: A.Expr) -> str:
        """'v' or 'e' for an entity-valued DELETE expression."""
        x = e
        if isinstance(x, A.Index):
            x = x.base
        if isinstance(x, A.FuncCall):
            nm = x.name.lower()
            if nm in ("nodes", "vertices", "start_vertex", "end_vertex",
                      "startnode", "endnode"):
                return "v"
            if nm in ("relationships", "edges"):
                return "e"
        raise ValueError(
            "DELETE takes bound variables or entity-valued expressions "
            "(vertices(p)[i], start_vertex(r), ...)")

    @staticmethod
    def _union_ids(dfs: list[DataFrame]) -> DataFrame | None:
        """Distinct victims; edge endpoints are kept only when every
        part carries them."""
        if not dfs:
            return None
        cols = ["id", "start", "end"] if all("start" in d.columns for d in dfs) else ["id"]
        out = dfs[0].select(*cols)
        for d in dfs[1:]:
            out = out.unionByName(d.select(*cols))
        return out.distinct()

    @staticmethod
    def _groups(df: DataFrame, label: Column, ends: bool) -> DataFrame:
        """The victim-group aggregate: rows and highest locid per label
        and, with ``ends``, per (start labid, end labid)."""
        keys = [label.alias("l")]
        if ends:
            keys += [labid_col(F.col("start")).alias("s"),
                     labid_col(F.col("end")).alias("e")]
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"),
                                     F.max(locid_col(F.col("id"))).alias("top"))

    def _victim_groups(self, victims: DataFrame, kind: str) -> list[tuple]:
        """Victim ids that EXIST in their label frame, grouped as
        ``WriteContext.retire`` takes them — serves label pruning, the
        deleted-stats counters and the carried statistics.

        Every victim existed when its clause matched it (victims come
        from a MATCH against the working graph, and only DELETE removes
        entities), so ONE tiny groupBy over the victims' own labid bits
        (the label lives in the id's high bits) yields exact counts
        without touching any frame; edge victims carrying their
        endpoints are split by triple in the same groupBy. A repeated
        delete of the same kind in one statement (DELETE a ... DELETE a,
        cypher_dml.sql:689-784) first drops the ids earlier clauses
        already removed (``WriteContext.gone``) — still no label scan."""
        cat = self.wctx.graph.catalog
        frames = self.wctx.graph.frames
        names = cat.vlabels() if kind == "v" else cat.elabels()
        by_labid = {cat.labels[n].labid: n for n in names if n in frames}
        gone = self.wctx.gone.get(kind)
        if gone is not None:
            victims = victims.join(gone, "id", "left_anti")
        ends = kind == "e" and "start" in victims.columns
        rows = self._groups(victims, labid_col(F.col("id")), ends).collect()
        return [(by_labid[r["l"]], (r["s"], r["e"]) if ends else None,
                 r["n"], r["top"]) for r in rows if r["l"] in by_labid]

    def _incident_groups(self, vids: DataFrame, labids: set[int]
                         ) -> tuple[list[tuple], DataFrame | None]:
        """Edges incident to the victim vertices, grouped per (edge
        label, start labid, end labid) in ONE job over a tagged union of
        the edge frames (which already reflect this clause's explicit
        edge deletions, so nothing is double-counted), plus the lazy
        incident-edge frame itself. With edge triples, only labels with
        a triple touching a victim labid are scanned. Two semi-joins on
        equality keys — on ``start``, then on ``end`` for edges not
        already matched — count each edge once."""
        g = self.wctx.graph
        names = [n for n in g.catalog.elabels() if n in g.frames]
        triples = g.edge_triples()
        if triples is not None:
            near = {e for e, s, t, _ in triples if s in labids or t in labids}
            names = [n for n in names if n in near]
        if not names:
            return [], None
        u = g.frames[names[0]].select("id", "start", "end", F.lit(names[0]).alias("__lbl"))
        for n in names[1:]:
            u = u.unionByName(g.frames[n].select("id", "start", "end", F.lit(n).alias("__lbl")))
        hit = self._incident_edges(u, vids)
        return [(r["l"], (r["s"], r["e"]), r["n"], r["top"])
                for r in self._groups(hit, F.col("__lbl"), True).collect()], hit

    @staticmethod
    def _incident_edges(edges: DataFrame, vids: DataFrame) -> DataFrame:
        """Rows of ``edges`` with an endpoint among the ``vids.__vid``
        ids, each once, from equi-joins only."""
        on_start = edges.join(vids, F.col("start") == F.col("__vid"), "left_semi")
        on_end = (edges.join(vids, F.col("end") == F.col("__vid"), "left_semi")
                  .join(vids, F.col("start") == F.col("__vid"), "left_anti"))
        return on_start.unionByName(on_end)

    @staticmethod
    def _detach_keep(edges: DataFrame, vids: DataFrame) -> DataFrame:
        """Rows of ``edges`` with neither endpoint among the
        ``vids.__vid`` ids: two chained equi anti-joins."""
        return (edges.join(vids, F.col("start") == F.col("__vid"), "left_anti")
                .join(vids, F.col("end") == F.col("__vid"), "left_anti"))

    # ------------------------------------------------------------------
    # SET / REMOVE  (reference: execCypherSet.c:141 ExecSetGraph; `+=`
    # merge and `=` overwrite semantics; REMOVE nulls the property)
    # ------------------------------------------------------------------

    def _compile_set(self, s: A.SetClause | A.RemoveClause) -> None:
        self._begin_write()
        if self.df is None:
            raise ValueError("SET/REMOVE requires a preceding reading clause")
        # composite-valued path functions in SET values (e.g.
        # SET x.v = nodes(p)[1].prop) — same pre-join as projections
        self._materialize_path_composites(
            [it.value for it in s.items if getattr(it, "value", None) is not None])
        by_var: dict[str, list[A.SetItem]] = {}
        for it in s.items:
            if isinstance(it.target, A.Prop) and isinstance(it.target.base, A.Var):
                by_var.setdefault(it.target.base.name, []).append(it)
            elif isinstance(it.target, A.Var):
                by_var.setdefault(it.target.name, []).append(it)
            else:
                raise ValueError("SET target must be var.prop or var")
        for var, items in by_var.items():
            self._apply_set_var(var, items)

    def _apply_set_var(self, var: str, items: list[A.SetItem]) -> None:
        b = self.scope.require(var)
        if b.kind not in ("vertex", "edge"):
            raise ValueError(f"cannot SET on {b.kind} variable {var!r}")
        ec = self._ec()

        # assignments: mangled prop column -> Column (None = remove)
        assigns: dict[str, Column | None] = {}
        replace_all = False
        for it in items:
            if it.op == "remove":
                assigns[prop_col_name(it.target.key)] = None
                ec.col_overrides[f"{var}__{prop_col_name(it.target.key)}"] = F.lit(None)
            elif isinstance(it.target, A.Prop):
                if it.op == "add":
                    # reference: += exists for the whole map only
                    raise ValueError("+= operator on a property is not allowed")
                col = ec.col(it.value)
                assigns[prop_col_name(it.target.key)] = col
                # later items in the same SET list read this value
                ec.col_overrides[f"{var}__{prop_col_name(it.target.key)}"] = col
            else:  # whole-entity SET n = {...} / n = properties(m) / n += ...
                val = it.value
                if isinstance(val, A.Lit) and val.value is None:
                    raise ValueError(
                        "cannot set property map to NULL — use {} to "
                        "remove all properties")
                if not isinstance(val, A.MapLit):
                    # SET n = properties(m) copies another binding's map
                    # (execCypherSet.c whole-jsonb assignment); wrap so
                    # _eval_props expands it to static columns
                    val = A.MapLit([("__copy__", val)])
                if it.op == "set":
                    replace_all = True
                for k, vcol in self._eval_props(val):
                    assigns[prop_col_name(k)] = vcol
        if replace_all:
            for p in b.props:
                assigns.setdefault(p, None)

        # change-set: victim id + new values, one row per id (the
        # reference's enable_multiple_update keeps the last; we keep one)
        upd_cols = [F.col(f"{var}__id").alias("__uid_key")]
        names: list[str] = []
        for k, col in assigns.items():
            nm = f"__new_{k}"
            names.append(k)
            upd_cols.append((col if col is not None else F.lit(None)).alias(nm))
        updates = self.df.select(*upd_cols).dropDuplicates(["__uid_key"])
        updates = S.truncate(updates)
        n_upd = updates.count()

        cat = self.wctx.graph.catalog
        upd_schema = {f.name: f.dataType for f in updates.schema.fields}
        for lbl in b.labels:
            frame = self.wctx.graph.frames.get(lbl)
            if frame is None:
                continue  # label exists in the hierarchy but holds no rows
            meta = cat.labels[lbl]
            joined = frame.join(F.broadcast(updates) if n_upd < 1_000_000 else updates,
                                frame["id"] == F.col("__uid_key"), "left")
            matched = F.col("__uid_key").isNotNull()
            out_cols: list[Column] = [frame["id"].alias("id")]
            if meta.kind == "e":
                out_cols += [frame["start"].alias("start"), frame["end"].alias("end")]
            handled = set()
            for p in meta.props:
                mc = prop_col_name(p)
                if mc in frame.columns:
                    old = frame[mc]
                elif mc in assigns:
                    old = F.lit(None)
                else:
                    continue
                if mc in assigns:
                    handled.add(mc)
                    out_cols.append(F.when(matched, F.col(f"__new_{mc}")).otherwise(old).alias(mc))
                else:
                    out_cols.append(old.alias(mc))
            for mc in assigns:
                if mc not in handled and prop_display_name(mc) not in meta.props:
                    out_cols.append(F.when(matched, F.col(f"__new_{mc}")).otherwise(F.lit(None)).alias(mc))
            self.wctx.replace(lbl, joined.select(*out_cols))
            for p, col in assigns.items():
                if col is not None:
                    t = upd_schema[f"__new_{p}"].simpleString()
                    meta.props.setdefault(prop_display_name(p), "string" if t == "void" else t)

        # reflect into the pipeline so later clauses/RETURN see the new
        # values (reference: reflectModifiedProp, nodeModifyGraph.c:46)
        for p, col in assigns.items():
            self.df = self.df.withColumn(f"{var}__{p}", col if col is not None else F.lit(None))
            if p not in b.props and col is not None:
                b.props.append(p)
        self.wctx.stats.updatedproperties += n_upd * max(1, len(assigns))

    # ------------------------------------------------------------------
    # MERGE  (reference: execCypherMerge.c:35 ExecMergeGraph —
    # match-or-create per input row + ON CREATE / ON MATCH SET)
    # ------------------------------------------------------------------

    def _compile_merge(self, m: A.Merge) -> None:
        self._begin_write()
        first = self.df is None
        if first:
            self.df = self._ensure_df()
        else:
            self._materialize_path_composites(
                self._pattern_prop_exprs([m.pattern]))
            lim = getattr(self.engine, "sequential_merge_rows", 0) or 0
            acc = self._merge_accumulating_vars(m)
            if lim > 0 or acc:
                # one bounded probe: ships at most cap + 1 rows
                cap = max(lim, 1)
                n = len(self.df.limit(cap + 1).collect())
                if 1 < n <= lim:
                    return self._compile_merge_sequential(m)
                if (n > cap and acc
                        and self._merge_rows_can_collide(m, acc)):
                    raise NotImplementedError(
                        "MERGE ... ON MATCH/ON CREATE SET reads the merge "
                        "variable's own properties/entity (per-input-row "
                        "accumulation, e.g. SET a.cnt = a.cnt + 1) over "
                        "input rows that can probe the SAME entity, more "
                        f"of them than sequential_merge_rows={lim}: batch "
                        "execution applies SET once per statement and would "
                        "silently diverge from the reference's row-at-a-time "
                        "semantics (execCypherMerge.c:35; "
                        "cypher_eager.sql:112-156). Raise "
                        "CypherEngine(sequential_merge_rows=N) to fold the "
                        "rows one at a time, or restructure the query.")
        self._compile_merge_batch(m, first)

    def _merge_accumulating_vars(self, m: A.Merge) -> set:
        """Compile-time detection of the self-referential MERGE
        accumulation shape — an ON MATCH/ON CREATE SET whose RHS reads
        a variable this MERGE itself binds, either a property
        (``SET a.cnt = a.cnt + 1``) or the whole entity
        (``SET a.snap = properties(a)``). Returns the set of merge-bound
        variable names so read. The analog of the reference's eagerness
        analysis (parse_graph.c:5641 ``assign_query_eager``): under
        row-at-a-time OLTP execution later input rows of the SAME
        statement observe earlier rows' updates, so batch-once SET can
        silently give a PG user a different answer — refuse loudly
        (or fold, under sequential_merge_rows) unless
        ``_merge_rows_can_collide`` proves the rows independent."""
        import dataclasses as _dc
        merge_vars = {el.var for el in m.pattern.elements
                      if getattr(el, "var", None)}
        if not merge_vars:
            return set()
        acc: set = set()

        def walk(e) -> None:
            # a bare Var read (inside any function/expression) reads the
            # entity's current properties just like a Prop chain does
            if isinstance(e, A.Var) and e.name in merge_vars:
                acc.add(e.name)
            if _dc.is_dataclass(e) and not isinstance(e, type):
                for f in _dc.fields(e):
                    v = getattr(e, f.name)
                    if isinstance(v, A.Expr):
                        walk(v)
                    elif isinstance(v, (list, tuple)):
                        for x in v:
                            if isinstance(x, A.Expr):
                                walk(x)
                            elif isinstance(x, tuple):
                                for y in x:
                                    if isinstance(y, A.Expr):
                                        walk(y)

        for it in (m.on_match + m.on_create):
            if it.value is not None:
                walk(it.value)
        return acc

    def _merge_rows_can_collide(self, m: A.Merge, acc_vars: set) -> bool:
        """False only when every accumulating variable's OWN pattern
        element carries a property map whose evaluated key tuple is
        DISTINCT across the input rows: then no two rows can probe (or
        create) the same entity for that variable, each entity's SET
        applies at most once, and batch equals row-at-a-time — the
        refusal would be a false positive (e.g. ``MERGE (a:v {no: x.no})
        ON MATCH SET a.cnt = a.cnt + 1`` over distinct x.no). A shared
        element (constant or absent key), an uncompilable key, or any
        duplicate/NULL key tuple stays conservative (True). Cost: one
        small aggregate per accumulating element, only on the already-
        suspicious shape."""
        for el in m.pattern.elements:
            var = getattr(el, "var", None)
            if var not in acc_vars:
                continue
            props = getattr(el, "props", None)
            items = getattr(props, "items", None) if props is not None else None
            if not items:
                return True
            try:
                ec = self._ec()
                cols = [ec.col(v) for _, v in items]
                r = (self.df
                     .select(*[c.alias(f"__k{i}")
                               for i, c in enumerate(cols)])
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.count_distinct(
                              *[F.col(f"__k{i}")
                                for i in range(len(cols))]).alias("d"))
                     .first())
            except Exception:
                return True
            # count_distinct drops NULL-keyed rows, so n != d also
            # catches NULL probe keys — conservative, as intended
            if r["n"] != r["d"]:
                return True
        return False

    def _compile_merge_sequential(self, m: A.Merge) -> None:
        """Opt-in OLTP-fidelity MERGE (engine.sequential_merge_rows):
        fold the clause's input rows one at a time on the driver so
        each row's match phase observes earlier rows' creations AND
        ON MATCH/ON CREATE property updates within the same clause —
        the reference's per-row accumulation (execCypherMerge.c:35;
        cypher_eager.sql:112-156, e.g. ON MATCH SET cnt = cnt + 1
        counting earlier input rows of the SAME statement).

        Only taken when the input frame is at most
        ``sequential_merge_rows`` rows. Batch mode (the default) stays
        the scale path; this exists to reproduce row-at-a-time
        transactional semantics where fidelity matters more than
        throughput.

        Rows fold in collect() order: partition-major, positions kept
        within each partition. When the pipeline established an order
        (ORDER BY in a preceding WITH), Spark's range-partitioned sort
        makes that the GLOBAL order, so the fold is order-faithful
        exactly when the query defined one; otherwise row order is
        implementation-defined, as PG heap order is without ORDER BY.
        The input is cut with a monotonic row number, which encodes that
        same (partition, position) order, and each row's frame is a
        filter of the cut on its number. No collected value goes back
        into Spark, so every type arrives as the pipeline produced it
        (a collected timestamp rebuilt into a frame could shift by the
        process and session time zones)."""
        seq = "__merge_seq"
        pinned = S.truncate(self.df.withColumn(seq, F.monotonically_increasing_id()))
        base_scope = self.scope
        outs: list[DataFrame] = []
        final_scope = None
        for i in sorted(r[0] for r in pinned.select(seq).collect()):
            # each row compiles against the PRE-merge scope (the merge
            # vars must not look outer-bound on later rows) but the
            # CURRENT working graph, which earlier rows just mutated
            self.scope = base_scope.copy()
            self.df = pinned.filter(F.col(seq) == i).drop(seq)
            self._compile_merge_batch(m, first=False)
            outs.append(self.df)
            final_scope = self.scope
        self.scope = final_scope
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        self.df = out

    def _compile_merge_batch(self, m: A.Merge, first: bool) -> None:
        pat = m.pattern
        # Undirected MERGE rels: the MATCH phase scans both orientations
        # (the pattern compiler's genEdgeUnion path); when nothing
        # matches, the CREATE phase instantiates left→right — the
        # reference's behavior (cypher_dml.out 'unspecified direction':
        # startnode is the left endpoint). Normalize the CREATE copy.
        if any(isinstance(el, A.RelPat) and el.direction == "undir"
               for el in pat.elements):
            import dataclasses as _dc
            pat = _dc.replace(pat, elements=[
                _dc.replace(el, direction="out")
                if isinstance(el, A.RelPat) and el.direction == "undir" else el
                for el in pat.elements])
            pat_match = m.pattern  # undirected: both orientations match
        else:
            pat_match = pat

        # labels mentioned by the pattern are auto-created (as in the
        # CREATE path) so the match phase scans them as empty
        for el in pat.elements:
            if isinstance(el, A.NodePat):
                for lbl in el.labels:
                    self.wctx.ensure_label(lbl, "v")
            elif isinstance(el, A.RelPat):
                for t in el.types:
                    self.wctx.ensure_label(t, "e")

        # Property constraints referencing pipeline variables (e.g.
        # `UNWIND ... AS nm MERGE (n:nation {n_name: nm})`) cannot be
        # evaluated inside the standalone pattern compile — lift them out
        # of the match pattern and re-apply as per-row join equalities
        # (the reference matches MERGE's pattern once per input row:
        # execCypherMerge.c:35). The CREATE branch keeps the original
        # pattern, so created elements still get the lifted properties.
        outer_vars = set(self.scope.bindings)
        lifted: list[tuple[str, str, A.Expr]] = []  # (el_var, prop_key, expr)
        match_pat = pat_match
        if not first and outer_vars:
            new_elements = []
            for el in pat_match.elements:
                props = getattr(el, "props", None)
                keep_items = []
                if props is not None and el.var:
                    for key, val in props.items:
                        refs = self._vars_in(val)
                        if refs & outer_vars:
                            lifted.append((el.var, key, val))
                        else:
                            keep_items.append((key, val))
                if lifted and props is not None and len(keep_items) < len(props.items):
                    el = _copy.copy(el)
                    el.props = A.MapLit(keep_items) if keep_items else None
                new_elements.append(el)
            if lifted:
                match_pat = _copy.copy(pat_match)
                match_pat.elements = new_elements

        # 1. try to match the whole pattern against the working graph
        shared = self._pattern_shared_vars([pat])
        sub_av = self._compile_pattern_standalone([match_pat], None, shared)
        right, rscope, renames = sub_av
        cond: Column | None = None
        for v, tmp in renames.items():
            c = F.col(f"{v}__id") == F.col(f"{tmp}__id")
            cond = c if cond is None else (cond & c)
        if lifted:
            ec = self._ec()
            for el_var, key, val in lifted:
                prefix = renames.get(el_var, el_var)
                pcol = f"{prefix}__{prop_col_name(key)}"
                if pcol in right.columns:
                    c = F.col(pcol) == ec.col(val)
                else:
                    # label frame has no such property column (fresh or
                    # auto-created label) → nothing can match; every row
                    # falls through to the create branch
                    c = F.lit(False)
                cond = c if cond is None else (cond & c)
        probe_col = next(
            (f"{b.var}__id" for b in rscope.bindings.values()
             if b.var not in renames and b.kind in ("vertex", "edge")),
            None)
        if probe_col is None:
            raise ValueError("MERGE pattern introduces no new variable")
        joined = self.df.join(right, cond if cond is not None else F.lit(True), "left")
        joined = joined.drop(*[c for tmp in renames.values()
                               for c in right.columns if c.startswith(f"{tmp}__")])
        joined = S.truncate(joined)
        matched = joined.filter(F.col(probe_col).isNotNull())
        missing = joined.filter(F.col(probe_col).isNull()) \
                        .drop(*[c for c in right.columns if c in joined.columns])

        new_bindings = {v: b for v, b in rscope.bindings.items()
                        if v not in renames and self.scope.get(v) is None}

        # 2. create the pattern for rows that found no match; distinct
        # on the creation key so concurrent duplicates collapse
        # (single-writer batch + dedup-before-append)
        created: DataFrame | None = None
        if missing.take(1):
            sub = self._spawn_subcompiler()
            key_cols = [f"{v}__id" for v in renames]
            tmp_keys: list[str] = []
            if lifted:
                # the creation key includes the lifted outer property
                # values: one node per distinct value, not one total
                ec = self._ec()
                for i, (_, _, val) in enumerate(lifted):
                    missing = missing.withColumn(f"__mergekey_{i}", ec.col(val))
                    tmp_keys.append(f"__mergekey_{i}")
            merge_keys = key_cols + tmp_keys
            # Create ONE element per distinct merge key, then join the
            # created bindings back to ALL missing rows: MERGE is
            # per-input-row match-or-create, so duplicate inputs each
            # yield an output row bound to the same created element
            # (reference: execCypherMerge.c:35).
            miss_in = (missing.dropDuplicates(merge_keys) if merge_keys
                       else missing.limit(1))
            sub.df = miss_in
            sub.scope = self.scope.copy()
            sub.wctx = self.wctx
            sub._compile_create(A.Create([pat]))
            if m.on_create:
                sub._compile_set(A.SetClause(m.on_create))
            for v, b in sub.scope.bindings.items():
                if self.scope.get(v) is None and v not in new_bindings:
                    new_bindings[v] = b
            new_cols = [c for c in sub.df.columns
                        if any(c.startswith(f"{v}__") for v in new_bindings)]
            if merge_keys:
                rep = sub.df.select(
                    *[F.col(k).alias(f"__ck_{i}") for i, k in enumerate(merge_keys)],
                    *new_cols)
                cond = None
                for i, k in enumerate(merge_keys):
                    c = F.col(k).eqNullSafe(F.col(f"__ck_{i}"))
                    cond = c if cond is None else (cond & c)
                created = (missing.join(rep, cond, "inner")
                           .drop(*[f"__ck_{i}" for i in range(len(merge_keys))])
                           .drop(*tmp_keys))
            else:
                # keyless pattern: a single created element fans out to
                # every missing input row
                created = missing.crossJoin(F.broadcast(sub.df.select(*new_cols)))

        if m.on_match and matched.take(1):
            sub = self._spawn_subcompiler()
            sub.df = matched
            sub.scope = self.scope.copy()
            for v, b in new_bindings.items():
                sub.scope.bind(b)
            sub.wctx = self.wctx
            sub._compile_set(A.SetClause(m.on_match))
            matched = sub.df

        for v, b in new_bindings.items():
            self.scope.bind(b)
        if created is not None:
            matched_cols = set(matched.columns)
            created = created.select(*[c for c in created.columns if c in matched_cols
                                       or any(c.startswith(f"{v}__") for v in new_bindings)])
            self.df = matched.unionByName(created, allowMissingColumns=True)
        else:
            self.df = matched
