"""The benchmark's closed-loop workloads.

Each workload names its op templates, builds its state (``setup``),
orders the ops of one round (``round``), constructs one op's DataFrame
(``call``) and checks end state (``final_check``). The runner (run.py)
owns timing, rounds, tracing and reporting; this module owns what the
ops are.

- ``graph_cypher``: Cypher read templates from the workload registry,
  each sent through ``CypherEngine.cypher`` so it pays parse + compile,
  plus one SET / CREATE / MERGE / point read / DETACH DELETE write
  cycle per round on the same engine.
- ``pipeline_batch``: registry op functions over the public pipeline,
  analytics and streaming functions.
"""

from __future__ import annotations

import random
import statistics
import time

from agensgraph_spark import workload as W
from agensgraph_spark.cypher import CypherEngine
from agensgraph_spark.loader import build_tpch_graph

import oracles

READ_TEMPLATES = ["cy_match_1hop", "cy_match_2hop_agg", "cy_optional_match",
                  "cy_with_having", "cy_union", "cy_vle_reach",
                  "cy_shortestpath", "cy_dijkstra"]
PATH_TEMPLATES = ("cy_vle_reach", "cy_shortestpath", "cy_dijkstra")

# template -> the public module.function whose call does the op's work
PIPELINE_LAYERS = {
    "dedup_minhash_lsh": "pipeline.dedup.minhash_neardup_pairs",
    "dedup_cluster": "pipeline.dedup.connected_components",
    "ann_cosine_topk": "pipeline.similarity.brute_cosine_topk",
    "dsir_importance": "pipeline.text.dsir_weights",
    "graph_pagerank": "operators.analytics.pagerank",
    "graph_scc": "operators.analytics.strongly_connected_components",
    "stream_events_hourly": "streaming.windowed_event_counts",
}
WRITE_KINDS = ("set", "create", "merge", "delete")
WRITE_TEMPLATES = ["w_set", "w_create", "w_merge", "w_point_read", "w_delete"]
SEGMENTS = ("BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "MACHINERY")
SETUP_REPS = 3
INPUT_TABLES = ("documents", "embeddings", "events", "lineitem", "supplier",
                "nation", "region")

# span name -> module:attribute wrapped in the traced run
TRACE_TARGETS = {
    "agensgraph_spark.cypher.compiler:parse_cypher": "cypher.parser.parse",
    "agensgraph_spark.cypher.compiler:CypherEngine._compile_setop":
        "cypher.compiler.compile",
    "agensgraph_spark.cypher.compiler:CypherEngine._execute_write":
        "cypher.writes.execute",
    "agensgraph_spark.operators.paths:vle_expand": "operators.paths.vle_expand",
    "agensgraph_spark.operators.paths:bfs_shortest": "operators.paths.bfs_shortest",
    "agensgraph_spark.operators.paths:dijkstra_paths": "operators.paths.dijkstra_paths",
    "agensgraph_spark.pipeline.similarity:cosine_neardup_pairs":
        "pipeline.similarity.cosine_neardup_pairs",
    "pyspark.sql.streaming.query:StreamingQuery.awaitTermination":
        "streaming.query.awaitTermination",
    **{f"agensgraph_spark.{layer.rsplit('.', 1)[0]}:{layer.rsplit('.', 1)[1]}": layer
       for layer in PIPELINE_LAYERS.values()},
}


class Workload:
    name: str
    templates: list[str]
    checked: list[str]  # templates whose warm-up output is hash-checked

    def __init__(self, spark, sf_dir: str, rng: random.Random) -> None:
        self.spark, self.sf_dir, self.rng = spark, sf_dir, rng
        # one seeded op order per run, reused by every round: each op's
        # timed call then comes exactly one round after its warm-up call
        self.order = list(self.templates)
        rng.shuffle(self.order)

    def round(self) -> list[str]:
        return list(self.order)

    def after_op(self, template: str) -> dict:
        return {}

    def final_check(self, corrupt: str | None) -> list[str]:
        return []


class PipelineBatch(Workload):
    """Registry op functions over the public pipeline, analytics and
    streaming functions; the seed picks the run's op order."""

    name = "pipeline_batch"
    templates = list(PIPELINE_LAYERS)
    checked = templates

    def setup(self) -> dict[str, float]:
        """Open the op inputs (schema and file listing), SETUP_REPS
        times; no graph is built."""
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            for t in INPUT_TABLES:
                self.spark.read.parquet(f"{self.sf_dir}/{t}.parquet").schema
            reps.append(time.perf_counter() - t0)
        return {"loader.read_inputs_s": statistics.median(reps)}

    def call(self, template: str):
        return W.PIPELINE_QUERIES[template][0](self.spark, self.sf_dir)


class GraphCypher(Workload):
    """Cypher reads and write cycles on one TPC-H graph. A round is the
    read templates in seeded order with one write cycle (SET, CREATE,
    MERGE, point read, DETACH DELETE) spliced in at a seeded position.
    The seed also picks the SET segment and increment, the probe ids
    and the point-read key of every cycle. Every cycle leaves the graph
    at its base size."""

    name = "graph_cypher"
    templates = READ_TEMPLATES + WRITE_TEMPLATES
    checked = READ_TEMPLATES + ["w_point_read"]

    def __init__(self, spark, sf_dir: str, rng: random.Random) -> None:
        super().__init__(spark, sf_dir, rng)
        reads = [t for t in self.order if t in READ_TEMPLATES]
        at = rng.randrange(len(reads) + 1)
        self.order = reads[:at] + WRITE_TEMPLATES + reads[at:]  # the cycle stays in order
        self.eng: CypherEngine | None = None
        self.applied: dict[str, float] = {s: 0.0 for s in SEGMENTS}
        self.base_counts: dict[str, int] = {}
        self.base_frames: dict = {}
        self.first_read_key: int | None = None
        self._cycle: dict = {}

    def setup(self) -> dict[str, float]:
        """Build the TPC-H graph SETUP_REPS times (median kept), then
        ANALYZE it once, as the registry's engine factory does."""
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            graph = build_tpch_graph(self.spark, self.sf_dir)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.base_counts = dict(graph.collect_stats())
        graph.collect_edge_stats()
        stats_s = time.perf_counter() - t0
        self.eng = CypherEngine(self.spark, graph)
        self.base_frames = dict(graph.frames)
        return {"loader.build_tpch_graph_s": statistics.median(reps),
                "graph.collect_stats_s": stats_s}

    def round(self) -> list[str]:
        self._cycle = {
            "seg": self.rng.choice(SEGMENTS),
            "delta": float(self.rng.randint(1, 9)),
            "pid": self.rng.randrange(1, 10**9),
            "ckey": self.rng.randrange(self.base_counts["customer"]),
        }
        if self.first_read_key is None:
            self.first_read_key = self._cycle["ckey"]
        return super().round()

    def call(self, template: str):
        c = self._cycle
        if template in W.GRAPH_QUERIES:
            return self.eng.cypher(W.GRAPH_QUERIES[template][0])
        if template == "w_set":
            self.applied[c["seg"]] += c["delta"]
            return self.eng.cypher(
                f"MATCH (c:customer) WHERE c.c_mktsegment = '{c['seg']}' "
                f"SET c.c_acctbal = c.c_acctbal + {c['delta']}")
        if template == "w_create":
            return self.eng.cypher(
                f"UNWIND range({c['pid']}, {c['pid'] + 49}) AS i "
                "CREATE (:probe {pid: i, tag: 'new'})")
        if template == "w_merge":
            # half the keys exist (created above), half are new
            return self.eng.cypher(
                f"UNWIND range({c['pid'] + 45}, {c['pid'] + 54}) AS i "
                "MERGE (v:probe {pid: i}) ON MATCH SET v.tag = 'hit' "
                "ON CREATE SET v.tag = 'merged'")
        if template == "w_point_read":
            return self.eng.cypher(oracles.point_read_cypher(c["ckey"]))
        if template == "w_delete":
            return self.eng.cypher("MATCH (v:probe) DETACH DELETE v")
        raise KeyError(template)

    def after_op(self, template: str) -> dict:
        if not template.startswith("w_") or template == "w_point_read":
            return {}
        return {"write_rows": sum(self.eng.last_write_stats.values())}

    def final_check(self, corrupt: str | None) -> list[str]:
        """The graph is back at its base size, and every segment's
        balance total moved by exactly the increments applied."""
        problems = []
        frames = self.eng.graph.frames
        for lbl in set(self.base_counts) | {"probe"}:
            if frames.get(lbl) is self.base_frames.get(lbl):
                continue  # never rewritten by a write: the base frame itself
            n = frames[lbl].count() if lbl in frames else 0
            want = self.base_counts.get(lbl, 0)
            if n != want:
                problems.append(f"label {lbl}: {n} rows, base {want}")
        rows = self.eng.cypher(
            "MATCH (c:customer) RETURN c.c_mktsegment AS seg, "
            "sum(c.c_acctbal) AS total, count(*) AS n").collect()
        base = oracles.segment_totals(self.sf_dir)
        for r in rows:
            want = base[r["seg"]][0] + self.applied[r["seg"]] * r["n"]
            got = r["total"] + (1.0 if corrupt == "w_set" else 0.0)
            if abs(got - want) > 1e-6 * max(1.0, abs(want)):
                problems.append(f"segment {r['seg']}: total {got}, expected {want}")
        return problems


WORKLOADS = {w.name: w for w in (GraphCypher, PipelineBatch)}
