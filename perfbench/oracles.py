"""Reference answers for the benchmark's correctness check.

Outputs are compared by hash of a canonical form: columns ordered by
name, cells normalised (floats to 10 significant digits, timestamps
to strings), rows sorted. Reference hashes come from the DuckDB
oracles in ``workload.all_oracles()`` run over the same Parquet files,
and are cached beside the corpus (``oracles.json``) because the inputs
never change between runs; an edited oracle text invalidates its entry.

One deviation: the registry's ``graph_scc`` oracle is a recursive
reachability closure that needs more than 12 GB in DuckDB at sf0.1, so
its reference is the same edge list (selected by DuckDB) fed to an
iterative Tarjan SCC here.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os

import duckdb

from agensgraph_spark import workload as W

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_SCC_EDGES = """
    WITH f AS (SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
               WHERE l_quantity < 9),
    s AS (SELECT l_partkey,
                 lead(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber) AS nxt
          FROM f)
    SELECT DISTINCT l_partkey, nxt FROM s WHERE nxt IS NOT NULL"""
_SCC_VERTS = "SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity < 9"


def _cell(v):
    if isinstance(v, float):
        return float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.10g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (tuple, list)):
        return tuple(_cell(x) for x in v)
    return v


def result_hash(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)
    payload = repr(([columns[i] for i in order], canon)).encode()
    return hashlib.sha256(payload).hexdigest()


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _scc_rows(con) -> list[tuple]:
    adj: dict[int, list[int]] = {v: [] for (v,) in con.execute(_SCC_VERTS).fetchall()}
    for a, b in con.execute(_SCC_EDGES).fetchall():
        adj[a].append(b)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    comps: list[list[int]] = []
    for root in adj:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = len(index)
                stack.append(v)
                on_stack.add(v)
            for j in range(i, len(adj[v])):
                w = adj[v][j]
                if w not in index:
                    work.append((v, j + 1))
                    work.append((w, 0))
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            else:
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    comps.append(comp)
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
    return [(min(c), len(c), max(c)) for c in comps]


def reference_hashes(sf_dir: str, templates: list[str]) -> dict[str, str]:
    """Hash of each template's oracle answer, computed once per corpus."""
    path = os.path.join(sf_dir, "oracles.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    sqls = W.all_oracles()
    out, con = {}, None
    for t in templates:
        key = hashlib.sha256(sqls[t].encode()).hexdigest()
        hit = cache.get(t)
        if hit is None or hit["oracle"] != key:
            con = con or _connect(sf_dir)
            if t == "graph_scc":
                cols, rows = ["component", "n_vertices", "max_id"], _scc_rows(con)
            else:
                res = con.execute(sqls[t])
                cols, rows = [d[0] for d in res.description], res.fetchall()
            hit = cache[t] = {"oracle": key, "hash": result_hash(cols, rows)}
        out[t] = hit["hash"]
    if con is not None:
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return out


def point_read_cypher(custkey: int) -> str:
    return ("MATCH (c:customer)-[:placed]->(o:orders) "
            f"WHERE c.c_custkey = {custkey} "
            "RETURN o.o_orderkey AS okey, o.o_totalprice AS total")


def point_read_hash(sf_dir: str, custkey: int) -> str:
    with duckdb.connect() as con:
        res = con.execute(
            "SELECT o_orderkey AS okey, o_totalprice AS total "
            f"FROM read_parquet('{sf_dir}/orders.parquet') WHERE o_custkey = ?",
            [custkey])
        return result_hash([d[0] for d in res.description], res.fetchall())


def segment_totals(sf_dir: str) -> dict[str, tuple[float, int]]:
    """Base (sum of c_acctbal, customer count) per market segment."""
    with duckdb.connect() as con:
        rows = con.execute(
            "SELECT c_mktsegment, sum(c_acctbal), count(*) "
            f"FROM read_parquet('{sf_dir}/customer.parquet') GROUP BY 1").fetchall()
    return {seg: (total, n) for seg, total, n in rows}
