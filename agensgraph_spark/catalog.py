"""Graph catalog: the Spark-side replacement of ``ag_graph`` / ``ag_label``.

The reference keeps graphs as PostgreSQL schemas and labels as heap
tables registered in catalog tables (reference:
src/include/catalog/ag_graph.h:24-29, ag_label.h:29-47, with label
inheritance wired through AgInheritanceDependancy in
src/backend/commands/graphcmds.c:241-303). Here a graph is a named
collection of label entries; each entry records its 16-bit labid, its
kind ('v' or 'e'), its parents (label inheritance), and its *property
schema* — the typed columns this label's DataFrame carries.

Property schemas are the engine's major departure from jsonb-as-blob:
properties live as native columnar fields (Parquet column chunks →
predicate pushdown, column pruning), and the jsonb document view is
reconstructed on demand. Schemaless-ness is preserved per-label: labels
may carry any column set, and unions across labels null-fill.

Persistence is a small JSON metastore (one file per graph), replacing
the reference's system catalogs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

VLABEL_BASE = "ag_vertex"
ELABEL_BASE = "ag_edge"


@dataclass
class LabelMeta:
    name: str
    labid: int
    kind: str  # 'v' | 'e'
    parents: list[str] = field(default_factory=list)
    # property name -> Spark DDL type string ("bigint", "string", "double", ...)
    props: dict[str, str] = field(default_factory=dict)
    # ALTER VLABEL/ELABEL ... OWNER TO (gram.y OWNER TO RoleSpec):
    # pure catalog metadata, the pg_class.relowner analog
    owner: str | None = None
    # ALTER ... CLUSTER ON <index> (gram.y CLUSTER ON name): the
    # recorded physical-order directive — snapshot writes lay the
    # label out range-partitioned+sorted on these property columns so
    # Parquet min/max footers prune on the indexed expression (the
    # Spark analog of PostgreSQL CLUSTER's heap rewrite)
    clustered_on: str | None = None   # index name, for catalog display
    cluster_keys: list[str] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "labid": self.labid,
            "kind": self.kind,
            "parents": list(self.parents),
            "props": dict(self.props),
            "owner": self.owner,
            "clustered_on": self.clustered_on,
            "cluster_keys": list(self.cluster_keys),
        }


class GraphCatalog:
    """Catalog for one graph: label registry + inheritance closure."""

    def __init__(self, name: str):
        self.name = name
        self.labels: dict[str, LabelMeta] = {}
        self._next_labid = 1

    # ---- DDL (reference: CREATE VLABEL/ELABEL, graphcmds.c:241) ----

    def create_label(
        self,
        name: str,
        kind: str,
        labid: int | None = None,
        parents: list[str] | None = None,
        props: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> LabelMeta:
        if name in self.labels:
            if if_not_exists:
                return self.labels[name]
            raise ValueError(f"label {name!r} already exists in graph {self.name!r}")
        if kind not in ("v", "e"):
            raise ValueError("kind must be 'v' or 'e'")
        for p in parents or []:
            pm = self.labels.get(p)
            if pm is None:
                raise ValueError(f"parent label {p!r} does not exist")
            if pm.kind != kind:
                raise ValueError(f"parent label {p!r} has kind {pm.kind!r}, expected {kind!r}")
        if labid is None:
            while self._next_labid in {m.labid for m in self.labels.values()}:
                self._next_labid += 1
            labid = self._next_labid
        from agensgraph_spark.graphid import LABID_MAX
        if not 0 <= labid <= LABID_MAX:
            raise ValueError(f"labid out of range (0..{LABID_MAX}): {labid}")
        meta = LabelMeta(name=name, labid=labid, kind=kind, parents=list(parents or []), props=dict(props or {}))
        self.labels[name] = meta
        return meta

    def create_vlabel(self, name: str, **kw) -> LabelMeta:
        return self.create_label(name, "v", **kw)

    def create_elabel(self, name: str, **kw) -> LabelMeta:
        return self.create_label(name, "e", **kw)

    def drop_label(self, name: str, cascade: bool = False) -> list[str]:
        """Drop a label; with ``cascade``, transitively drop dependent
        children first (reference cypher_ddl.out:565-566 "drop cascades
        to vlabel v1"). Returns every label actually dropped (children
        first) so callers can retire their frames too."""
        children = [m.name for m in self.labels.values() if name in m.parents]
        if children and not cascade:
            raise ValueError(
                f"label {name!r} has children {children}; use DROP ... CASCADE")
        dropped: list[str] = []
        for c in children:
            dropped += self.drop_label(c, cascade=True)
        del self.labels[name]
        dropped.append(name)
        return dropped

    # ---- ALTER VLABEL/ELABEL (reference: gram.y:16784-16915 — the
    # logical subset; owner/tablespace/storage options are heap-table
    # concerns with no analog over immutable Parquet snapshots) ----

    def rename_label(self, old: str, new: str) -> None:
        """ALTER VLABEL/ELABEL ... RENAME TO: the labid (and therefore
        every graphid) is stable across the rename — only the catalog
        name and child parent-references change."""
        if old not in self.labels:
            raise ValueError(f"label {old!r} does not exist")
        if new in self.labels:
            raise ValueError(f"label {new!r} already exists")
        # rebuild preserving registration order (descendants() relies on it)
        renamed = {}
        for k, m in self.labels.items():
            if k == old:
                m.name = new
                k = new
            m.parents = [new if p == old else p for p in m.parents]
            renamed[k] = m
        self.labels = renamed

    def set_inherit(self, child: str, parent: str, add: bool = True) -> None:
        """ALTER ... INHERIT / NO INHERIT parent."""
        meta = self.labels.get(child)
        if meta is None:
            raise ValueError(f"label {child!r} does not exist")
        pmeta = self.labels.get(parent)
        if pmeta is None:
            raise ValueError(f"parent label {parent!r} does not exist")
        if add:
            if pmeta.kind != meta.kind:
                raise ValueError(f"parent {parent!r} has kind {pmeta.kind!r}")
            if child == parent or child in [parent] + self.ancestors(parent):
                raise ValueError(f"INHERIT {parent!r} would create a cycle")
            if parent not in meta.parents:
                meta.parents.append(parent)
        else:
            if parent not in meta.parents:
                raise ValueError(f"label {child!r} does not inherit {parent!r}")
            meta.parents.remove(parent)

    # ---- inheritance (reference: label scan includes subtree unless ONLY) ----

    def descendants(self, name: str) -> list[str]:
        """name + all labels inheriting from it, in registration order."""
        out, frontier = [], {name}
        for lbl in self.labels.values():  # dict preserves insertion order
            if lbl.name in frontier or any(p in frontier or p in out for p in lbl.parents):
                if lbl.name not in out:
                    out.append(lbl.name)
                    frontier.add(lbl.name)
        if name not in out and name in self.labels:
            out.insert(0, name)
        return out

    def ancestors(self, name: str) -> list[str]:
        """Full ancestor closure (the reference's labels(v) result),
        excluding the base label: breadth-first over the inheritance
        DAG, each level deduped against nearer levels and ordered by
        labid (creation order) WITHIN the level — verified against
        cypher_func.out's complex fixtures (e.g. `l INHERITS (i,j,k,g)`
        lists g before i,j,k because g was created first)."""
        seen: list[str] = []
        queue = [name]
        while queue:
            meta = self.labels.get(queue.pop(0))
            if meta is None:
                continue
            for p in sorted(meta.parents,
                            key=lambda n: self.labels[n].labid
                            if n in self.labels else 1 << 30):
                if p not in seen:
                    seen.append(p)
                    queue.append(p)
        return seen

    def vlabels(self) -> list[str]:
        return [m.name for m in self.labels.values() if m.kind == "v"]

    def elabels(self) -> list[str]:
        return [m.name for m in self.labels.values() if m.kind == "e"]

    # ---- persistence ----

    def to_json(self) -> str:
        return json.dumps(
            {"name": self.name, "labels": [m.to_dict() for m in self.labels.values()]},
            indent=1,
        )

    @classmethod
    def from_json(cls, text: str) -> "GraphCatalog":
        data = json.loads(text)
        cat = cls(data["name"])
        for m in data["labels"]:
            cat.labels[m["name"]] = LabelMeta(
                name=m["name"], labid=m["labid"], kind=m["kind"],
                parents=list(m.get("parents", [])), props=dict(m.get("props", {})),
                owner=m.get("owner"), clustered_on=m.get("clustered_on"),
                cluster_keys=list(m.get("cluster_keys", [])),
            )
        return cat

    def save(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, f"{self.name}.graph.json"), "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, root: str, name: str) -> "GraphCatalog":
        with open(os.path.join(root, f"{name}.graph.json")) as f:
            return cls.from_json(f.read())
