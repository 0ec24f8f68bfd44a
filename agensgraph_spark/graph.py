"""Graph: a catalog + one DataFrame per label.

The runtime unit the Cypher compiler queries against. Label DataFrames
carry the canonical base columns plus typed property columns
(SURVEY.md §1.5 mapping):

- vertex label df: ``id: long`` + props
- edge label df:   ``id: long, start: long, end: long`` + props

A scan of label L includes L's inheritance subtree (reference semantics:
MATCH (n:parent) sees child rows — src/backend/commands/graphcmds.c
AgInheritanceDependancy; ``ONLY`` restricts to L). Here that is a
``unionByName(allowMissingColumns=True)`` over the descendant
DataFrames, each stamped with its concrete label name — Catalyst
pushes filters/pruning into every branch of the union.
"""

from __future__ import annotations

from graphlib import CycleError, TopologicalSorter
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agensgraph_spark.catalog import GraphCatalog

BASE_V_COLS = ["id"]
BASE_E_COLS = ["id", "start", "end"]

# Property names that collide with the base entity columns are stored
# under a mangled column name. The reference has no such collision (its
# properties live inside one jsonb column) and its tests use properties
# literally named `id` (cypher_shortestpath.sql `{id: 1}`), so the flat
# column scheme must namespace them. Property access prefers the
# property; `v.id` without an `id` property stays the graphid (the
# composite-attribute projection, parse_cypher_expr.c:980-995).
RESERVED_PROPS = ("id", "label", "start", "end")


def prop_col_name(p: str) -> str:
    return f"_p_{p}" if p in RESERVED_PROPS else p


def prop_display_name(c: str) -> str:
    return c[3:] if c.startswith("_p_") and c[3:] in RESERVED_PROPS else c


class Graph:
    def __init__(self, catalog: GraphCatalog, frames: dict[str, DataFrame] | None = None):
        self.catalog = catalog
        self.frames: dict[str, DataFrame] = dict(frames or {})
        # driver-side per-label row counts; populated by collect_stats()
        self._label_counts: dict[str, int] | None = None
        # (edge_label, start_labid, end_labid, count) triples —
        # populated by collect_edge_stats()
        self._edge_triples: list[tuple[str, int, int, int]] | None = None
        # per label: the next free locid (the ag_label_seq analog,
        # graphcmds.c:79-87). A label absent here is seeded by one max
        # scan at its first CREATE, never below its floor: one past the
        # highest locid a DELETE removed before the seed.
        self._locid_next: dict[str, int] = {}
        self._locid_floor: dict[str, int] = {}

    # ---- registration ----

    def set_label_df(self, label: str, df: DataFrame) -> None:
        if label not in self.catalog.labels:
            raise ValueError(f"label {label!r} not in catalog")
        self.frames[label] = df
        # a frame swapped in from outside invalidates the statistics and
        # the label's locid mark; they are recomputed at the next read.
        # Cypher writes instead carry them forward (note_rows), as the
        # reference maintains ag_graphmeta from write stats
        # (regather_graphmeta, graphmeta.c)
        self._label_counts = None
        self._edge_triples = None
        self._locid_next.pop(label, None)
        self._locid_floor.pop(label, None)

    def fork(self) -> "Graph":
        """A working copy for one write statement: its own catalog,
        frame map, statistics and locid marks, so a rolled-back
        statement leaves this graph untouched."""
        import copy
        g = Graph(copy.deepcopy(self.catalog), self.frames)
        if self._label_counts is not None:
            g._label_counts = dict(self._label_counts)
        if self._edge_triples is not None:
            g._edge_triples = list(self._edge_triples)
        g._locid_next = dict(self._locid_next)
        g._locid_floor = dict(self._locid_floor)
        return g

    def move_label(self, old: str, new: str | None) -> None:
        """Carry label ``old``'s frame, statistics and locid mark over
        to ``new`` after ALTER ... RENAME, or retire them after DROP
        (``new`` is None). The catalog change is the caller's. Labids
        survive a rename, so the edge triples keep their endpoints; a
        dropped vertex label's labid stays in the triples of edges that
        still point at it, as a recompute would count them."""
        for d in (self.frames, self._label_counts, self._locid_next, self._locid_floor):
            if d is not None and old in d:
                value = d.pop(old)
                if new is not None:
                    d[new] = value
        if self._edge_triples is not None:
            self._edge_triples = [(new if e == old else e, s, t, c)
                                  for e, s, t, c in self._edge_triples
                                  if e != old or new is not None]

    # ---- write-side metadata: statistics and locid marks ----

    def note_rows(self, label: str, n: int,
                  pairs: "dict[tuple[int, int], int] | None" = None) -> None:
        """Fold a write's row delta for ``label`` into the statistics:
        ``n`` rows added (negative: removed); for an edge label,
        ``pairs`` splits ``n`` by (start labid, end labid). ``pairs`` of
        None means the split is unknown, and the edge triples are
        dropped (the no-statistics state). Triples reaching 0 vanish."""
        if self._label_counts is not None:
            self._label_counts[label] = self._label_counts.get(label, 0) + n
        if self.catalog.labels[label].kind != "e" or self._edge_triples is None:
            return
        if pairs is None:
            if n:
                self._edge_triples = None
            return
        acc = {(e, s, t): c for e, s, t, c in self._edge_triples}
        for (s, t), c in pairs.items():
            acc[(label, s, t)] = acc.get((label, s, t), 0) + c
        self._edge_triples = [(e, s, t, c) for (e, s, t), c in acc.items() if c]

    def next_locid(self, label: str) -> int:
        """The next free locid of ``label``: the carried mark, seeded by
        one max scan the first time the label is written."""
        nxt = self._locid_next.get(label)
        if nxt is None:
            nxt = 1
            df = self.frames.get(label)
            if df is not None and df.columns:
                from agensgraph_spark.graphid import locid_col
                top = df.agg(F.max(locid_col(F.col("id"))).alias("m")).collect()[0]["m"]
                nxt = (top or 0) + 1
            nxt = self._locid_next[label] = max(nxt, self._locid_floor.pop(label, 1))
        return nxt

    def advance_locid(self, label: str, used: int) -> None:
        self._locid_next[label] = self.next_locid(label) + used

    def note_deleted_locid(self, label: str, top: int) -> None:
        """A DELETE removed ``label`` rows up to locid ``top``: an
        unseeded label's later seed starts above it, so no locid is
        reused (a seeded mark is already above every live locid)."""
        if label not in self._locid_next:
            self._locid_floor[label] = max(self._locid_floor.get(label, 1), top + 1)

    def label_df(self, label: str) -> DataFrame:
        return self.frames[label]

    # ---- scans ----

    def _stamped(self, label: str) -> DataFrame:
        meta = self.catalog.labels[label]
        df = self.frames.get(label)
        base = BASE_V_COLS if meta.kind == "v" else BASE_E_COLS
        if df is None:
            # label created by DDL but never written: empty scan
            spark = SparkSession.getActiveSession()
            ddl = ", ".join(f"{c} long" for c in base)
            for p, t in meta.props.items():
                ddl += f", {p} {t}"
            df = spark.createDataFrame([], schema=ddl)
        cols = [F.col(c) for c in base] + [F.lit(label).alias("label")]
        cols += [F.col(prop_col_name(p)) for p in meta.props if prop_col_name(p) in df.columns]
        return df.select(*cols)

    def _union(self, labels: Iterable[str]) -> DataFrame:
        labels = list(labels)
        if not labels:
            raise ValueError("empty label set")
        out = None
        for lbl in labels:
            part = self._stamped(lbl)
            out = part if out is None else out.unionByName(part, allowMissingColumns=True)
        return out

    def vertices(self, label: str | None = None, only: bool = False) -> DataFrame:
        """All vertices of a label (incl. inheritance subtree) or of the graph."""
        if label is None:
            return self._union(self.catalog.vlabels())
        labels = [label] if only else self.catalog.descendants(label)
        return self._union(labels)

    def edges(self, label: str | None = None, only: bool = False) -> DataFrame:
        if label is None:
            return self._union(self.catalog.elabels())
        labels = [label] if only else self.catalog.descendants(label)
        return self._union(labels)

    def edges_multi(self, labels: list[str]) -> DataFrame:
        """Union scan for multi-type edge patterns ``[:A|B]`` (reference:
        genEdgeUnion, src/backend/parser/parse_graph.c:2100)."""
        expanded: list[str] = []
        for lbl in labels:
            for d in self.catalog.descendants(lbl):
                if d not in expanded:
                    expanded.append(d)
        return self._union(expanded)

    # ---- property document view (jsonb parity) ----

    def props_json(self, label: str) -> DataFrame:
        """Label df with a ``properties`` JSON column reconstructed from
        the typed columns — the reference's jsonb document shape."""
        meta = self.catalog.labels[label]
        df = self.frames[label]
        present = [p for p in meta.props if p in df.columns]
        doc = F.to_json(F.struct(*[F.col(p) for p in present])) if present else F.lit("{}")
        return df.withColumn("properties", doc)

    def vertex_composites(self) -> DataFrame:
        """(id, label, properties) over every vertex label — the lookup
        relation for path composites (reference: makeGraphpathDatum,
        src/backend/utils/adt/graph.c:1259 builds _vertex arrays).
        ``to_json`` drops the nulls the cross-label union introduces, so
        each row's document carries exactly its own label's properties."""
        df = self.vertices()
        props = [c for c in df.columns if c not in ("id", "label")]
        doc = (F.to_json(F.struct(*[F.col(c).alias(prop_display_name(c)) for c in props]))
               if props else F.lit("{}"))
        return df.select("id", "label", doc.alias("properties"))

    def edge_composites(self) -> DataFrame:
        """(id, label, start, end, properties) over every edge label —
        the _edge-array analog of ``vertex_composites``."""
        df = self.edges()
        props = [c for c in df.columns if c not in ("id", "label", "start", "end")]
        doc = (F.to_json(F.struct(*[F.col(c).alias(prop_display_name(c)) for c in props]))
               if props else F.lit("{}"))
        return df.select("id", "label", "start", "end", doc.alias("properties"))

    # ---- statistics (reference: ag_graphmeta — per (edge, start-label,
    # end-label) triple cardinality, src/include/catalog/ag_graphmeta.h:30,
    # maintained by regather_graphmeta()/write stats) ----

    def collect_stats(self) -> dict[str, int]:
        """ANALYZE analog: count rows per label once and cache the counts
        driver-side. The Cypher compiler consults them to pick broadcast
        sides for hop joins — the same role ag_graphmeta/pg statistics
        play in the reference's costing (src/include/catalog/
        ag_graphmeta.h:30; regather_graphmeta(), graphmeta.c). An explicit
        action, like ANALYZE: at cluster scale this is one metadata-cheap
        count job per label, run when the graph snapshot changes."""
        if self._label_counts is None:
            self._label_counts = {
                lbl: self.frames[lbl].count() if lbl in self.frames else 0
                for lbl in self.catalog.labels
            }
        return self._label_counts

    def label_counts(self) -> dict[str, int] | None:
        """Cached stats, or None when collect_stats() has not run."""
        return self._label_counts

    def collect_edge_stats(self) -> list[tuple[str, int, int, int]]:
        """Materialize ``edge_stats()`` driver-side — the full
        ag_graphmeta analog (per-(edge, start-label, end-label) triple
        cardinalities). One aggregate job, cached; the Cypher compiler
        consults the triples to pick multi-hop fold order (the
        reference's costing input, src/include/catalog/
        ag_graphmeta.h:30)."""
        if self._edge_triples is None:
            self._edge_triples = [
                (r["edge_label"], r["start_labid"], r["end_labid"], r["edgecount"])
                for r in self._edge_stats_distributed().collect()]
        return self._edge_triples

    def edge_triples(self) -> "list[tuple[str, int, int, int]] | None":
        """Cached triples, or None when collect_edge_stats() has not run."""
        return self._edge_triples

    def path_depth(self, edge_labels: Iterable[str], direction: str) -> int | None:
        """The most edges any path over ``edge_labels`` can have: the
        longest chain in the label graph whose arcs are the triples'
        (start labid, end labid) pairs for those labels. A data path's
        vertex labels walk that graph, so on an acyclic label graph no
        path is longer; the path operators clamp their hop budget to it
        (the reference planner reads the same ag_graphmeta triples,
        src/include/catalog/ag_graphmeta.h:30).

        ``edge_labels`` are concrete labels, already descendant-expanded
        as a pattern's edge scan expands them; ``direction`` is the
        pattern's ("out", "in" or "undir"; "in" reverses every arc,
        which leaves the longest chain unchanged).

        Returns None, meaning no bound, when there are no triples or
        none for these labels, when the label graph has a cycle (a
        self-loop included), or when the pattern is undirected.

        Sound only while the triples are exact: an edge whose labid pair
        is missing from them could extend a path past the bound. They
        are exact after collect_edge_stats() and through Cypher writes
        and DDL (note_rows, move_label); set_label_df drops them."""
        if direction == "undir" or not self._edge_triples:
            return None
        labels = set(edge_labels)
        preds: dict[int, set[int]] = {}
        for e, s, t, _ in self._edge_triples:
            if e in labels:
                preds.setdefault(t, set()).add(s)
        if not preds:
            return None
        try:
            order = list(TopologicalSorter(preds).static_order())
        except CycleError:
            return None
        depth: dict[int, int] = {}
        for v in order:
            depth[v] = max((depth[u] + 1 for u in preds.get(v, ())), default=0)
        return max(depth.values())

    def edge_stats(self) -> DataFrame:
        """Edge-count statistics per (edge label, start labid, end
        labid) — the ag_graphmeta analog. Reads are CATALOG lookups in
        the reference (ag_graphmeta rows maintained from write stats,
        src/backend/utils/adt/graphmeta.c), not edge rescans — so when
        the triples have already been gathered (collect_edge_stats(),
        kept exact through Cypher writes and DDL, invalidated by
        set_label_df) this serves a driver-local 6-ish-row DataFrame
        instead of re-scanning every edge frame. Cold path computes
        distributed."""
        if self._edge_triples:  # empty [] falls through (VALUES () is invalid)
            # getActiveSession() is thread-local and returns None off
            # the driver thread that created the session; prefer the
            # session of an installed frame, then the active one, and
            # fall back to the distributed path rather than crash
            spark = None
            for frame in self.frames.values():
                if frame is not None:
                    spark = frame.sparkSession
                    break
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                return self._edge_stats_distributed()
            # VALUES → LocalRelation: constant-folds driver-side, no
            # tasks at all (createDataFrame would plan an RDD scan)
            vals = ", ".join(
                "('{}', {}, {}, {})".format(str(e).replace("'", "''"),
                                            int(s), int(t), int(n))
                for e, s, t, n in self._edge_triples)
            return spark.sql(
                "SELECT col1 AS edge_label, CAST(col2 AS LONG) AS start_labid,"
                " CAST(col3 AS LONG) AS end_labid, CAST(col4 AS LONG) AS"
                f" edgecount FROM (VALUES {vals})")
        return self._edge_stats_distributed()

    def _edge_stats_distributed(self) -> DataFrame:
        """The gather job behind ``edge_stats``/``collect_edge_stats``:
        one aggregate over each edge frame; labels are recovered from
        the ids' high bits so no vertex join happens."""
        from agensgraph_spark.graphid import labid_col
        out = None
        for lbl in self.catalog.elabels():
            if lbl not in self.frames and self.frames.get(lbl) is None:
                continue
            df = self._stamped(lbl).select(
                F.lit(lbl).alias("edge_label"),
                labid_col(F.col("start")).alias("start_labid"),
                labid_col(F.col("end")).alias("end_labid"),
            )
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise ValueError("graph has no edge labels")
        return (out.groupBy("edge_label", "start_labid", "end_labid")
                .agg(F.count(F.lit(1)).alias("edgecount")))

    def graphmeta_view(self) -> DataFrame:
        """The reference's ``ag_graphmeta_view`` (graphmeta.sql:16):
        edge stats with labids resolved to NAMES through the live
        catalog. Inner-map semantics — rows whose endpoint label was
        dropped vanish from the view, exactly as the reference's view
        joins ag_graphmeta against ag_label."""
        stats = self.edge_stats()
        pairs = []
        for m in self.catalog.labels.values():
            if m.kind == "v":
                pairs += [F.lit(int(m.labid)), F.lit(m.name)]
        name_of = F.create_map(*pairs) if pairs else F.create_map()
        return (stats
                .withColumn("start", F.element_at(name_of, F.col("start_labid").cast("int")))
                .withColumn("end", F.element_at(name_of, F.col("end_labid").cast("int")))
                .filter(F.col("start").isNotNull() & F.col("end").isNotNull())
                .select("start", F.col("edge_label").alias("edge"), "end", "edgecount"))

    # ---- SQL interop (reference: Cypher results usable as SQL relations) ----

    def register_views(self, prefix: str | None = None) -> None:
        pre = f"{prefix}_" if prefix else f"{self.catalog.name}_"
        for lbl in self.catalog.labels:
            self._stamped(lbl).createOrReplaceTempView(f"{pre}{lbl}")

    # ---- persistence: immutable snapshot model ----

    def write_snapshot(self, root: str, partitions: int | None = None,
                       version: str | None = None,
                       overwrite_version: bool = False) -> None:
        """Write every label as Parquet laid out for scale: vertex
        files hash-clustered and sorted by ``id`` (Parquet min/max
        footers then prune id-range = label/point lookups), edge files
        clustered by ``start`` and sorted within files so out-edge
        expansion reads co-located, sorted runs.

        With ``version``, the snapshot lands under an immutable
        ``_versions/<version>`` directory and is appended to the
        graph's version manifest — time-travel reads
        (``read_snapshot(..., version=...)``) are the batch analog of
        the reference's MVCC visibility: every version is a complete,
        never-mutated copy of the label frames, so concurrent readers
        of older versions are untouched by later writes.

        Versions are IMMUTABLE: re-writing an existing version raises
        unless ``overwrite_version=True`` is passed explicitly (a
        silent overwrite would mutate history that time-travel readers
        may hold open). The manifest update is atomic (temp file +
        ``os.replace``) so a crash mid-write never truncates it."""
        import json
        import os as _os
        base = f"{root}/{self.catalog.name}"
        if version is not None:
            manifest = f"{root}/{self.catalog.name}/_versions/manifest.json"
            versions: list[str] = []
            if _os.path.exists(manifest):
                versions = json.load(open(manifest))
            if version in versions and not overwrite_version:
                raise ValueError(
                    f"snapshot version {version!r} already exists for graph "
                    f"{self.catalog.name!r} — versions are immutable; pass "
                    "overwrite_version=True to replace it deliberately")
            base = f"{base}/_versions/{version}"
            _os.makedirs(base, exist_ok=True)
            self.catalog.save(base)
            if version not in versions:
                versions.append(version)
            tmp = f"{manifest}.tmp"
            with open(tmp, "w") as f:
                json.dump(versions, f)
            _os.replace(tmp, manifest)
        else:
            self.catalog.save(root)
        for lbl, df in self.frames.items():
            meta = self.catalog.labels[lbl]
            path = f"{base}/{meta.kind}_{lbl}"
            keys = [prop_col_name(k) for k in meta.cluster_keys
                    if prop_col_name(k) in df.columns]
            if keys:
                # ALTER ... CLUSTER ON <index>: the PostgreSQL CLUSTER
                # heap-rewrite analog — range-partition + sort on the
                # indexed property columns so Parquet min/max footers
                # prune files AND row groups on the indexed expression
                out = (df.repartitionByRange(partitions, *keys) if partitions
                       else df.repartitionByRange(*keys))
                out.sortWithinPartitions(*keys).write.mode("overwrite").parquet(path)
                continue
            key = "id" if meta.kind == "v" else "start"
            out = df.repartition(partitions, key) if partitions else df.repartition(F.col(key))
            out.sortWithinPartitions(key).write.mode("overwrite").parquet(path)

    @staticmethod
    def snapshot_versions(root: str, name: str) -> list[str]:
        """Versions recorded in the graph's manifest, oldest first."""
        import json
        import os as _os
        manifest = f"{root}/{name}/_versions/manifest.json"
        if not _os.path.exists(manifest):
            return []
        return json.load(open(manifest))

    def write_bucketed(self, spark: SparkSession, buckets: int = 64,
                       prefix: str | None = None) -> None:
        """Bucketed snapshot tables: every label is saved with
        ``bucketBy(buckets, key).sortBy(key)`` into the session catalog
        — vertices bucketed by ``id``, edges by ``start``. Tables
        bucketed on the join key with the same bucket count join with
        ZERO exchange on either side (asserted in
        tests/test_plans.py::test_bucketed_join_no_exchange): at 100 TB
        the hop join edge.start ⋈ vertex.id is the hot path, and
        bucketing removes its shuffle entirely. The reference gets the
        same effect from per-label heap tables + btree indexes; Spark's
        analog is bucket pruning + sorted bucket merge join."""
        import shutil
        from urllib.parse import urlparse
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        pre = f"{prefix}_" if prefix else f"{self.catalog.name}_"
        for lbl, df in self.frames.items():
            meta = self.catalog.labels[lbl]
            key = "id" if meta.kind == "v" else "start"
            name = f"{pre}b_{lbl}"
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # a previous session's managed-table dir may survive without
            # a catalog entry; overwrite refuses the orphan location
            loc = urlparse(f"{warehouse}/{name.lower()}")
            if loc.scheme in ("", "file"):
                shutil.rmtree(loc.path, ignore_errors=True)
            (df.write.mode("overwrite").format("parquet")
               .bucketBy(buckets, key).sortBy(key)
               .saveAsTable(name))

    @classmethod
    def read_bucketed(cls, spark: SparkSession, catalog: GraphCatalog,
                      prefix: str | None = None) -> "Graph":
        """Graph whose label frames are the bucketed catalog tables
        written by write_bucketed — Cypher hop joins on the bucket keys
        (edge.start ⋈ vertex.id) then plan without an exchange on the
        co-located sides."""
        pre = f"{prefix}_" if prefix else f"{catalog.name}_"
        g = cls(catalog)
        for lbl in catalog.labels:
            g.frames[lbl] = spark.table(f"{pre}b_{lbl}")
        return g

    @classmethod
    def read_snapshot(cls, spark: SparkSession, root: str, name: str,
                      version: str | None = None) -> "Graph":
        """Read a snapshot; ``version`` time-travels to a manifest
        entry ("latest" = last manifest entry), None reads the
        unversioned layout."""
        base = f"{root}/{name}"
        if version is not None:
            versions = cls.snapshot_versions(root, name)
            if version == "latest":
                if not versions:
                    raise FileNotFoundError(f"no versions recorded under {base}")
                version = versions[-1]
            elif version not in versions:
                raise FileNotFoundError(
                    f"version {version!r} not in manifest {versions}")
            base = f"{base}/_versions/{version}"
            cat = GraphCatalog.load(base, name)
        else:
            cat = GraphCatalog.load(root, name)
        g = cls(cat)
        for lbl, meta in cat.labels.items():
            g.frames[lbl] = spark.read.parquet(f"{base}/{meta.kind}_{lbl}")
        return g
