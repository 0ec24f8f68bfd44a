"""Per-layer metrics from a traced run's spans.

Every op record points at its root span; the layer spans under it come
from ``workloads.TRACE_TARGETS``. Each metric is a median over ops of a
per-op total. Times are self times where layers nest (the compiler's
share excludes the path searches it calls). A metric whose layer the
workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from tracing import self_time
from workloads import (PATH_TEMPLATES, PIPELINE_LAYERS, READ_TEMPLATES,
                       WRITE_KINDS, WRITE_TEMPLATES)

ALL_TEMPLATES = READ_TEMPLATES + WRITE_TEMPLATES + list(PIPELINE_LAYERS)
SETUP_LAYERS = ("loader.build_tpch_graph_s", "graph.collect_stats_s",
                "loader.read_inputs_s")


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, recs: list[dict]) -> dict:
    spans, kids = tracer.spans, tracer.children()

    def under(root_id: int) -> list:
        out, todo = [], list(kids.get(root_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_s(s) -> float:
        return self_time(s, kids)

    per_op = []
    for r in recs:
        root = spans[r["span"]]
        per_op.append((r, root, under(root.id)))

    def total(pred, of=lambda s: s.dur, templates=None) -> float:
        return _med([sum(of(s) for s in desc if pred(s.name))
                     for r, _, desc in per_op
                     if templates is None or r["template"] in templates])

    m: dict[str, tuple[float, str]] = {}
    reads = READ_TEMPLATES + ["w_point_read"]
    m["cypher.parser.parse_s"] = (total(lambda n: n == "cypher.parser.parse",
                                        templates=reads + WRITE_TEMPLATES), "s")
    is_compile = (lambda n: n == "cypher.compiler.compile")
    m["cypher.compiler.compile_s"] = (total(is_compile, self_s, reads), "s")
    m["cypher.compiler.jobs_per_op"] = (total(is_compile, lambda s: s.jobs, reads), "count")
    is_paths = (lambda n: n.startswith("operators.paths."))
    m["operators.paths.compile_s"] = (total(is_paths, templates=PATH_TEMPLATES), "s")
    m["operators.paths.jobs_per_op"] = (
        total(is_paths, lambda s: s.jobs, PATH_TEMPLATES), "count")

    m["spark.exec_s"] = (total(lambda n: n == "spark.exec"), "s")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = (_med([getattr(root, k) + sum(getattr(s, k) for s in desc)
                                        for _, root, desc in per_op]), "count")

    is_write = (lambda n: n == "cypher.writes.execute")
    writes = [f"w_{k}" for k in WRITE_KINDS]
    for k in WRITE_KINDS:
        m[f"cypher.writes.{k}_s"] = (total(is_write, templates=[f"w_{k}"]), "s")
    m["cypher.writes.rows_per_op"] = (
        _med([r["write_rows"] for r in recs if r["template"] in writes]), "count")
    m["cypher.writes.jobs_per_op"] = (total(is_write, lambda s: s.jobs, writes), "count")

    for t, layer in PIPELINE_LAYERS.items():
        ops = [(r, root, desc) for r, root, desc in per_op if r["template"] == t]
        m[f"{layer}.construct_s"] = (_med([r["construct_s"] for r, _, _ in ops]), "s")
        m[f"{layer}.exec_s"] = (_med([r["exec_s"] for r, _, _ in ops]), "s")
        m[f"{layer}.jobs"] = (_med([root.jobs + sum(s.jobs for s in desc)
                                    for _, root, desc in ops]), "count")

    # share of op wall time outside every named layer span
    op_wall = sum(root.dur for _, root, _ in per_op)
    m["trace.unattributed_frac"] = (
        sum(self_s(root) for _, root, _ in per_op) / op_wall if op_wall else 0.0, "ratio")
    return m
