"""The declared operator workload: every entry pairs a Spark
implementation with a DuckDB oracle (where SQL-expressible) for the
driver's correctness gate (`__spark_entry__.py`).

Conventions keeping Spark and DuckDB hash-identical:
- integer ids/counts cast to BIGINT on both sides;
- aggregated doubles go through DECIMAL(18,2) accumulation (exact) and
  cast to DOUBLE at the end — double sums in different orders are NOT
  reproducible, exact decimal sums are;
- LIMIT always rides a deterministic tiebreak;
- timestamps are formatted to strings before returning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.loader import (build_tpch_graph, read_table,
                                     register_tables, spread_scan)
from agensgraph_spark.operators import analytics as AN
from agensgraph_spark.pipeline import dedup as D
from agensgraph_spark.pipeline import multimodal as MM
from agensgraph_spark.pipeline import retrieval as RT
from agensgraph_spark.pipeline import sampling as SMP
from agensgraph_spark.pipeline import similarity as S
from agensgraph_spark.pipeline import text as TX

_ENGINES: dict[tuple, CypherEngine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> CypherEngine:
    key = (id(spark), sf_dir)
    eng = _ENGINES.get(key)
    if eng is None:
        eng = CypherEngine(spark, build_tpch_graph(spark, sf_dir))
        # ANALYZE once per engine, one Spark job: the edge triples
        # feed multi-hop fold order and bound path searches
        eng.graph.collect_stats()
        _ENGINES[key] = eng
    return eng


# r14: compiled-plan memo for the PURE-LAZY Cypher reads — parsing +
# compiling a MATCH pipeline costs 0.3-0.9s of driver time per
# invocation (measured; the engine and read_table are already
# memoized, this is the parse/compile/analysis share). DataFrames are
# immutable and these plans are fully lazy, so handing the same
# DataFrame back recomputes EVERYTHING from parquet at every action —
# a plan cache (the to_char template-cache analog), never a result
# cache. Eligibility is decided EMPIRICALLY, not by token-matching:
# a query is memoized only when its compile ran ZERO Spark jobs. The
# path searches (shortestpath/allshortestpaths/dijkstra) and VLE
# expansion run eager frontier jobs and hand back plans over
# checkpointed RDDs — memoizing those would skip the search itself on
# re-invocation (result caching), so the zero-job rule excludes them
# automatically. tests/test_plans.py::test_cypher_plan_memo_lazy_only
# pins the rule both ways.
_CY_PLANS: dict[tuple, DataFrame] = {}


def _compile_job_count(spark: SparkSession):
    # DAGScheduler's monotone job counter: cheap, in-process, and a
    # strictly conservative eagerness detector (any concurrent job
    # inflates the delta and merely skips the memo). Reaches through
    # private internals (_jsc), so degrade gracefully: None = counter
    # unavailable (Spark Connect, accessor change) = treat the compile
    # as eager and skip memoization (r14 ADVICE).
    try:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    except Exception:
        return None


def _cypher(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        key = (id(eng), text)
        hit = _CY_PLANS.get(key)
        if hit is not None:
            return hit
        j0 = _compile_job_count(spark)
        df = eng.cypher(text)
        if j0 is not None and _compile_job_count(spark) == j0:
            _CY_PLANS[key] = df
        return df
    return fn


def _referenced_tables(sql: str) -> tuple[str, ...]:
    import re

    from agensgraph_spark.loader import ALL_TABLES
    words = set(re.findall(r"[a-z_]+", sql.lower()))
    return tuple(t for t in ALL_TABLES if t in words)


def _sparksql(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Register only the tables this query names — one unreadable table
        # must not take down unrelated queries. A read error on a table the
        # query DOES name must surface as that error, never be swallowed
        # into TABLE_OR_VIEW_NOT_FOUND — lenient only on the everything
        # fallback for names the word-match heuristic can't see.
        found = _referenced_tables(sql)
        if found:
            register_tables(spark, sf_dir, only=found)
        else:
            register_tables(spark, sf_dir, lenient=True)
        return spark.sql(sql)
    return fn


# ---------------------------------------------------------------------------
# Graph queries (Cypher engine); oracles re-derive the same answer from
# the raw relational tables the graph was loaded from (FIXTURES.md §7).
# graphid constants: labid << 48 (nation=5, region=6).
_NATION_BASE = 5 << 48
_REGION_BASE = 6 << 48

GRAPH_QUERIES: dict[str, tuple[str, str | None]] = {
    "cy_match_1hop": (
        "MATCH (c:customer)-[:placed]->(o:orders) WHERE o.o_totalprice > 400000 "
        "RETURN c.c_custkey AS ckey, c.c_name AS cname, o.o_orderkey AS okey, o.o_totalprice AS total",
        "SELECT c_custkey AS ckey, c_name AS cname, o_orderkey AS okey, o_totalprice AS total "
        "FROM customer JOIN orders ON o_custkey = c_custkey WHERE o_totalprice > 400000",
    ),
    "cy_match_2hop_agg": (
        "MATCH (c:customer)-[:placed]->(o:orders)-[:contains]->(p:part) "
        "RETURN c.c_custkey AS ckey, count(*) AS n_items",
        "SELECT c_custkey AS ckey, count(*) AS n_items FROM customer "
        "JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON p_partkey = l_partkey GROUP BY c_custkey",
    ),
    "cy_optional_match": (
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:placed]->(o:orders) "
        "RETURN c.c_custkey AS ckey, count(o) AS n_orders",
        "SELECT c_custkey AS ckey, count(o_orderkey) AS n_orders FROM customer "
        "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey",
    ),
    "cy_vle_reach": (
        "MATCH (c:customer)-[e:in_nation|in_region*1..2]->(x) WHERE c.c_custkey < 100 "
        "RETURN c.c_custkey AS ckey, length(e) AS hops, x.id AS xid",
        f"SELECT c_custkey AS ckey, CAST(1 AS BIGINT) AS hops, {_NATION_BASE} + c_nationkey AS xid "
        "FROM customer WHERE c_custkey < 100 "
        "UNION ALL "
        f"SELECT c_custkey AS ckey, CAST(2 AS BIGINT) AS hops, {_REGION_BASE} + n_regionkey AS xid "
        "FROM customer JOIN nation ON n_nationkey = c_nationkey WHERE c_custkey < 100",
    ),
    "cy_order_limit": (
        "MATCH (o:orders) RETURN o.o_orderkey AS okey, o.o_totalprice AS total "
        "ORDER BY total DESC, okey LIMIT 10",
        "SELECT o_orderkey AS okey, o_totalprice AS total FROM orders "
        "ORDER BY total DESC, okey LIMIT 10",
    ),
    "cy_string_pred": (
        "MATCH (p:part) WHERE p.p_name STARTS WITH 's' AND p.p_name CONTAINS 'g' "
        "RETURN p.p_partkey AS pkey, p.p_name AS pname",
        "SELECT p_partkey AS pkey, p_name AS pname FROM part "
        "WHERE p_name LIKE 's%' AND p_name LIKE '%g%'",
    ),
    # PostgreSQL pattern operators inside Cypher a_exprs
    # (gram.y:13560-13640); the oracle pins the similar_escape
    # translation against DuckDB's regex engine
    "cy_like_similar": (
        "MATCH (p:part) WHERE p.p_name SIMILAR TO '%(widget|rod)' "
        "AND p.p_name NOT LIKE 'b%' "
        "RETURN p.p_partkey AS pkey, p.p_name AS pname, "
        "p.p_name ILIKE 'COLD%' AS is_cold",
        "SELECT p_partkey AS pkey, p_name AS pname, "
        "p_name ILIKE 'COLD%' AS is_cold FROM part "
        "WHERE regexp_matches(p_name, '^(?:.*(?:widget|rod))$') "
        "AND p_name NOT LIKE 'b%'",
    ),
    "cy_union": (
        "MATCH (n:nation) RETURN n.n_name AS name UNION MATCH (r:region) RETURN r.r_name AS name",
        "SELECT n_name AS name FROM nation UNION SELECT r_name AS name FROM region",
    ),
    # statement-level INTERSECT / EXCEPT (reference: gram.y:17089-17094
    # CypherStmt INTERSECT/EXCEPT set_quantifier CypherStmt)
    "cy_intersect": (
        "MATCH (:customer)-[:in_nation]->(n:nation) RETURN n.n_nationkey AS k "
        "INTERSECT MATCH (:supplier)-[:in_nation]->(n:nation) RETURN n.n_nationkey AS k",
        "SELECT c_nationkey AS k FROM customer "
        "INTERSECT SELECT s_nationkey AS k FROM supplier",
    ),
    "cy_except": (
        "MATCH (c:customer) WHERE c.c_custkey <= 100 RETURN c.c_custkey AS k "
        "EXCEPT MATCH (c:customer) WHERE c.c_custkey <= 50 RETURN c.c_custkey AS k",
        "SELECT c_custkey AS k FROM customer WHERE c_custkey <= 100 "
        "EXCEPT SELECT c_custkey AS k FROM customer WHERE c_custkey <= 50",
    ),
    "cy_unwind": (
        "UNWIND range(1, 100) AS x WITH x WHERE x % 7 = 3 RETURN x, x * x AS sq",
        "SELECT x, x * x AS sq FROM (SELECT CAST(range AS BIGINT) AS x FROM range(1, 101)) WHERE x % 7 = 3",
    ),
    "cy_agg_stats": (
        "MATCH (c:customer) RETURN c.c_mktsegment AS seg, count(*) AS n, "
        "min(c.c_acctbal) AS min_bal, max(c.c_acctbal) AS max_bal, "
        "round(sum(c.c_acctbal), 2) AS sum_bal",
        "SELECT c_mktsegment AS seg, count(*) AS n, min(c_acctbal) AS min_bal, "
        "max(c_acctbal) AS max_bal, "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal "
        "FROM customer GROUP BY c_mktsegment",
    ),
    "cy_case_bucket": (
        "MATCH (o:orders) RETURN CASE WHEN o.o_totalprice >= 300000 THEN 'big' "
        "WHEN o.o_totalprice >= 100000 THEN 'mid' ELSE 'small' END AS bucket, count(*) AS n",
        "SELECT CASE WHEN o_totalprice >= 300000 THEN 'big' "
        "WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'small' END AS bucket, count(*) AS n "
        "FROM orders GROUP BY 1",
    ),
    "cy_pattern_size": (
        # SIZE(pattern) in RETURN position (reference: CSP_SIZE,
        # parsenodes.h:3839-3851; cypher_dml2.sql predicate fns)
        "MATCH (n:nation) RETURN n.n_name AS name, "
        "size((n)<-[:in_nation]-()) AS members",
        "SELECT n_name AS name, "
        "(SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) + "
        "(SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS members "
        "FROM nation",
    ),
    "cy_shortestpath": (
        "MATCH (c:customer), (r:region) WHERE c.c_custkey < 50 "
        "MATCH p = shortestpath((c)-[:in_nation|in_region*..3]->(r)) "
        "RETURN c.c_custkey AS ckey, r.r_regionkey AS rkey, length(p) AS hops",
        "SELECT c_custkey AS ckey, CAST(n_regionkey AS BIGINT) AS rkey, CAST(2 AS BIGINT) AS hops "
        "FROM customer JOIN nation ON n_nationkey = c_nationkey WHERE c_custkey < 50",
    ),
    "cy_sp_expr": (
        # expression-position shortestpath (cypher_shortestpath2.sql:334):
        # outer cardinality preserved, NULL when unreachable — every
        # customer reaches exactly one of the 5 regions in 2 hops
        "MATCH (c:customer), (r:region) WHERE c.c_custkey < 40 "
        "RETURN c.c_custkey AS ckey, r.r_regionkey AS rkey, "
        "length(shortestpath((c)-[:in_nation|in_region*..3]->(r))) AS hops",
        "SELECT c_custkey AS ckey, CAST(r_regionkey AS BIGINT) AS rkey, "
        "CASE WHEN n_regionkey = r_regionkey THEN CAST(2 AS BIGINT) END AS hops "
        "FROM customer JOIN nation ON n_nationkey = c_nationkey "
        "CROSS JOIN region WHERE c_custkey < 40",
    ),
    "cy_multi_hop_region": (
        "MATCH (s:supplier)-[:in_nation]->(n:nation)-[:in_region]->(r:region) "
        "WHERE r.r_name = 'ASIA' RETURN s.s_suppkey AS skey, n.n_name AS nname",
        "SELECT s_suppkey AS skey, n_name AS nname FROM supplier "
        "JOIN nation ON n_nationkey = s_nationkey "
        "JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'ASIA'",
    ),
    "cy_distinct_nations": (
        "MATCH (c:customer)-[:in_nation]->(n:nation) WHERE c.c_acctbal > 9000 "
        "RETURN DISTINCT n.n_name AS nname",
        "SELECT DISTINCT n_name AS nname FROM customer "
        "JOIN nation ON n_nationkey = c_nationkey WHERE c_acctbal > 9000",
    ),
    "cy_with_having": (
        "MATCH (c:customer)-[:placed]->(o:orders) WITH c, count(o) AS n WHERE n >= 12 "
        "RETURN c.c_custkey AS ckey, n",
        "SELECT c_custkey AS ckey, count(o_orderkey) AS n FROM customer "
        "JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey HAVING count(o_orderkey) >= 12",
    ),
    "cy_allshortest": (
        "MATCH (s:supplier), (r:region) WHERE s.s_suppkey <= 20 "
        "MATCH p = allshortestpaths((s)-[:in_nation|in_region*..4]->(r)) "
        "RETURN s.s_suppkey AS skey, r.r_regionkey AS rkey, length(p) AS hops",
        "SELECT s_suppkey AS skey, CAST(n_regionkey AS BIGINT) AS rkey, CAST(2 AS BIGINT) AS hops "
        "FROM supplier JOIN nation ON n_nationkey = s_nationkey WHERE s_suppkey <= 20",
    ),
    "cy_dijkstra": (
        "MATCH (o:orders), (t:part) WHERE o.o_orderkey < 100 "
        "MATCH p = dijkstra((o)-[x:contains]->(t), x.l_quantity, w) "
        "RETURN o.o_orderkey AS okey, t.p_partkey AS pkey, length(p) AS hops, w AS wt",
        "SELECT l_orderkey AS okey, l_partkey AS pkey, CAST(1 AS BIGINT) AS hops, "
        "CAST(min(l_quantity) AS DOUBLE) AS wt FROM lineitem WHERE l_orderkey < 100 "
        "GROUP BY l_orderkey, l_partkey",
    ),
    "cy_list_comp": (
        "UNWIND range(1, 20) AS x "
        "WITH x, [y IN range(1, x) WHERE y % 2 = 0 | y * y] AS l "
        "RETURN x, size(l) AS n, head(l) AS h, last(l) AS t",
        "SELECT x, CAST(len(l) AS BIGINT) AS n, l[1] AS h, l[-1] AS t FROM ("
        "  SELECT CAST(range AS BIGINT) AS x,"
        "         list_transform(list_filter(range(1, CAST(range AS BIGINT) + 1),"
        "                                    y -> y % 2 = 0), y -> y * y) AS l"
        "  FROM range(1, 21))",
    ),
    "cy_quantifiers": (
        "UNWIND range(1, 30) AS x WITH x, [x, x + 1, x + 2] AS l "
        "WHERE all(y IN l WHERE y > 0) AND any(y IN l WHERE y % 5 = 0) "
        "AND none(y IN l WHERE y > 40) AND NOT single(y IN l WHERE y % 2 = 0) "
        "RETURN x",
        "SELECT x FROM (SELECT CAST(range AS BIGINT) AS x FROM range(1, 31)) "
        "WHERE list_count(list_filter([x, x+1, x+2], y -> y % 5 = 0)) >= 1 "
        "AND list_count(list_filter([x, x+1, x+2], y -> y > 40)) = 0 "
        "AND list_count(list_filter([x, x+1, x+2], y -> y % 2 = 0)) <> 1",
    ),
    "cy_slice_index": (
        # slice returned as a joined string: the driver's pandas canonicalizer
        # cannot sort raw list cells (unhashable), so stringify on BOTH sides
        "UNWIND range(0, 9) AS x WITH collect(x) AS l "
        "RETURN l[2] AS third, array_join(l[1..4], ',') AS mid, l[-2] AS penult, size(l) AS n",
        "SELECT l[3] AS third, array_to_string(l[2:4], ',') AS mid, l[-2] AS penult, CAST(len(l) AS BIGINT) AS n "
        "FROM (SELECT list_sort(list(CAST(range AS BIGINT))) AS l FROM range(0, 10))",
    ),
    "cy_write_set_roundtrip": (
        None,  # python-side: write then read back (fresh engine, no cache)
        "SELECT c_custkey AS ckey, CAST(c_acctbal + 100.0 AS DOUBLE) AS bal "
        "FROM customer WHERE c_mktsegment = 'BUILDING'",
    ),
    "cy_write_delete_roundtrip": (
        None,
        "SELECT CAST(count(*) AS BIGINT) AS n FROM orders WHERE o_totalprice <= 400000",
    ),
    "cy_write_merge_roundtrip": (
        None,  # python-side: MERGE (match + create) then read back
        "SELECT n_name AS name, CAST(NULL AS BOOLEAN) AS created, "
        "       CASE WHEN n_name = 'NATION_3' THEN TRUE END AS matched "
        "FROM nation "
        "UNION ALL SELECT 'NATION_NEW_A', TRUE, NULL "
        "UNION ALL SELECT 'NATION_NEW_B', TRUE, NULL",
    ),
    "cy_path_nodes": (
        # nodes(p)/relationships(p) return full composites whose
        # properties project through (reference: makeGraphpathDatum
        # graph.c:1259; pg_proc.dat:11656-11719)
        "MATCH (c:customer), (r:region) WHERE c.c_custkey < 30 "
        "MATCH p = shortestpath((c)-[:in_nation|in_region*..3]->(r)) "
        "RETURN c.c_custkey AS ckey, "
        "array_join([x IN nodes(p) | label(x)], ',') AS lbls, "
        "array_join([x IN nodes(p) | coalesce(x.n_name, x.r_name, x.c_name)], ',') AS names, "
        "array_join([x IN relationships(p) | label(x)], ',') AS elbls",
        "SELECT c_custkey AS ckey, 'customer,nation,region' AS lbls, "
        "c_name || ',' || n_name || ',' || r_name AS names, "
        "'in_nation,in_region' AS elbls "
        "FROM customer JOIN nation ON n_nationkey = c_nationkey "
        "JOIN region ON r_regionkey = n_regionkey WHERE c_custkey < 30",
    ),
    "cy_edge_props": (
        "MATCH (o:orders)-[x:contains]->(p:part) WHERE x.l_returnflag = 'R' AND x.l_quantity >= 49 "
        "RETURN o.o_orderkey AS okey, p.p_partkey AS pkey, x.l_quantity AS qty",
        "SELECT l_orderkey AS okey, l_partkey AS pkey, l_quantity AS qty FROM lineitem "
        "JOIN part ON p_partkey = l_partkey "
        "WHERE l_returnflag = 'R' AND l_quantity >= 49",
    ),
}

# Write-path round-trips: a FRESH engine (never the cached one) runs a
# write statement, then reads the mutated snapshot back — the write
# result is verified against a relational oracle replaying the same
# transformation on the raw tables.

def _q_write_set_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = CypherEngine(spark, build_tpch_graph(spark, sf_dir))
    eng.cypher("MATCH (c:customer) WHERE c.c_mktsegment = 'BUILDING' "
               "SET c.c_acctbal = c.c_acctbal + 100.0")
    return eng.cypher("MATCH (c:customer) WHERE c.c_mktsegment = 'BUILDING' "
                      "RETURN c.c_custkey AS ckey, c.c_acctbal AS bal")


def _q_write_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = CypherEngine(spark, build_tpch_graph(spark, sf_dir))
    eng.cypher("MATCH (o:orders) WHERE o.o_totalprice > 400000 DETACH DELETE o")
    return eng.cypher("MATCH (o:orders) RETURN count(*) AS n")


def _q_write_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE match-or-create with ON CREATE / ON MATCH SET
    (execCypherMerge.c:35 ExecMergeGraph semantics)."""
    eng = CypherEngine(spark, build_tpch_graph(spark, sf_dir))
    eng.cypher("UNWIND ['NATION_3', 'NATION_NEW_A', 'NATION_NEW_B'] AS nm "
               "MERGE (n:nation {n_name: nm}) "
               "ON CREATE SET n.created = true "
               "ON MATCH SET n.matched = true")
    return eng.cypher(
        "MATCH (n:nation) RETURN n.n_name AS name, "
        "n.created AS created, n.matched AS matched")


GRAPH_PYTHON_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cy_write_set_roundtrip": _q_write_set_roundtrip,
    "cy_write_delete_roundtrip": _q_write_delete_roundtrip,
    "cy_write_merge_roundtrip": _q_write_merge_roundtrip,
}

# ---------------------------------------------------------------------------
# Relational engine (the SQL half of the hybrid surface). The same text
# runs on Spark SQL and DuckDB.

SQL_QUERIES: dict[str, str] = {
    "sql_tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "sql_tpch_q3": """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderpriority
    """,
    "sql_tpch_q5": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "sql_window_rank": """
        SELECT o_custkey, o_orderkey, rnk FROM (
            SELECT o_custkey, o_orderkey,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
            FROM orders
        ) t WHERE rnk <= 3
    """,
    "sql_rollup": """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "sql_setops": """
        SELECT o_custkey AS k FROM orders
        INTERSECT
        SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
    """,
    "sql_exists_semijoin": """
        SELECT c_custkey AS ckey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey AND o_totalprice > 450000)
    """,
    "sql_tpch_q6": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "sql_tpch_q10": """
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
    """,
    "sql_tpch_q12": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_linestatus
    """,
    "sql_tpch_q14": """
        SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%%'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE 0 END) AS DOUBLE)
                    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS DOUBLE) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
    "sql_json_props": """
        SELECT event_type,
               CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    "sql_grouping_sets": """
        SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
               COALESCE(CAST(c_nationkey AS BIGINT), -1) AS nk,
               count(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    "sql_cube": """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_orderkey < 1000
        GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "sql_except": """
        SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
    """,
    "sql_not_exists_antijoin": """
        SELECT c_custkey AS ckey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey AND o_totalprice > 400000)
    """,
    "sql_correlated_scalar": """
        SELECT o_orderkey,
               (SELECT count(*) FROM lineitem WHERE l_orderkey = o.o_orderkey) AS n_items
        FROM orders o WHERE o_orderkey < 2000
    """,
    "sql_cte": """
        WITH big AS (
            SELECT o_custkey, count(*) AS n FROM orders
            WHERE o_totalprice > 200000 GROUP BY o_custkey
        )
        SELECT c_mktsegment, count(*) AS n_cust, CAST(SUM(n) AS BIGINT) AS n_big_orders
        FROM customer JOIN big ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "sql_window_analytics": """
        SELECT o_custkey, o_orderkey,
               CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_ok,
               CAST(LEAD(o_orderkey) OVER w AS BIGINT) AS next_ok,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        FROM orders WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
    "sql_date_ops": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               count(*) AS n
        FROM orders GROUP BY 1, 2, 3
    """,
    "sql_string_ops": """
        SELECT p_partkey,
               upper(substr(p_name, 1, 5)) AS head5,
               CAST(length(p_name) AS BIGINT) AS nlen,
               replace(p_brand, 'Brand#', 'B') AS brand_s,
               CAST(position('o' IN p_name) AS BIGINT) AS first_o
        FROM part WHERE p_partkey <= 500
    """,
    "sql_values_scan": """
        SELECT t.k AS k, t.v AS v, n_name
        FROM (VALUES (0, 'zero'), (1, 'one'), (2, 'two')) AS t(k, v)
        JOIN nation ON n_nationkey = t.k
    """,
    "sql_events_hourly": """
        SELECT CAST(date_trunc('hour', ts) AS DATE) AS d,
               EXTRACT(hour FROM ts) AS hr,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    # TPC-H adaptations to the driver's trimmed schema (no partsupp /
    # comments / commitdate): q4's lineitem-exists predicate becomes
    # l_returnflag='R'; q16's supplier link goes through lineitem; q17
    # rewrites `qty < 0.2*avg(qty)` as exact-integer `5*qty*cnt < sum`
    # so Spark and DuckDB agree bit-for-bit on the filter.
    "sql_tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "sql_tpch_q7": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY 1, 2, 3
    """,
    "sql_tpch_q8": """
        SELECT o_year,
               CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
                    / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
                   n1.n_name AS nation
            FROM part
            JOIN lineitem ON l_partkey = p_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON r_regionkey = n2.n_regionkey
            WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        ) all_nations
        GROUP BY o_year
    """,
    "sql_tpch_q9": """
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN part ON p_partkey = l_partkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
    """,
    "sql_tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    "sql_tpch_q15": """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "sql_tpch_q16": """
        SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM part JOIN lineitem ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 7, 10)
        GROUP BY 1, 2, 3
    """,
    "sql_tpch_q17": """
        WITH pq AS (
            SELECT l_partkey AS pk,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                   count(*) AS cnt
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_price,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN pq ON pk = l_partkey
        WHERE p_brand = 'Brand#23'
          AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq
    """,
    "sql_tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2, 3, 4
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    """,
    "sql_tpch_q19": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
    # q2/q11/q20/q21/q22 complete the 22-query TPC-H suite on the trimmed
    # schema (no partsupp/commitdate/phone): each preserves the original's
    # PLAN SHAPE — q2's correlated-min subquery, q11's scalar-subquery
    # HAVING threshold, q20's nested-IN over grouped aggregates, q21's
    # EXISTS + NOT-EXISTS double correlation with inequality, q22's
    # avg-threshold + anti-join. supplycost is the min extended price a
    # (part, supplier) pair ever shipped at, playing partsupp's role.
    "sql_tpch_q2": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
               p_partkey, p_brand, CAST(supplycost AS DOUBLE) AS supplycost
        FROM part
        JOIN ps ON p_partkey = ps.l_partkey
        JOIN supplier ON s_suppkey = ps.l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size <= 5 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
          AND supplycost = (
              SELECT MIN(ps2.supplycost)
              FROM ps ps2
              JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "sql_tpch_q11": """
        WITH nval AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS value
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(value AS DOUBLE) AS value
        FROM nval
        WHERE value > (SELECT SUM(value) * 0.001 FROM nval)
        ORDER BY value DESC, l_partkey
    """,
    "sql_tpch_q20": """
        WITH shipped AS (
            SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
        ), tot AS (
            SELECT l_partkey AS tk, SUM(qty) AS totqty FROM shipped GROUP BY l_partkey
        )
        SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM shipped
            JOIN tot ON tk = l_partkey
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND qty > 0.3 * totqty)
        ORDER BY s_name
    """,
    "sql_tpch_q21": """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND n_name = 'NATION_3'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    "sql_tpch_q22": """
        SELECT cntrycode, count(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
        FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
                   CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey
            FROM customer
            WHERE c_nationkey IN (10, 11, 12, 13, 14, 15, 16)
              AND CAST(c_acctbal AS DECIMAL(18,2))
                  * (SELECT count(*) FROM customer
                     WHERE c_acctbal > 0.00 AND c_nationkey IN (10, 11, 12, 13, 14, 15, 16))
                  > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
                     WHERE c_acctbal > 0.00 AND c_nationkey IN (10, 11, 12, 13, 14, 15, 16))
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ) GROUP BY cntrycode ORDER BY cntrycode
    """,
    # DISTINCT ON (PostgreSQL extension the reference inherits,
    # gram.y distinct_clause): first row per group in ORDER BY order —
    # emulated with row_number; the DuckDB oracle runs NATIVE
    # DISTINCT ON (see SQL_ORACLE_OVERRIDES), proving equivalence.
    "sql_distinct_on": """
        SELECT c_nationkey, c_custkey, bal FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey,
                   CAST(c_acctbal AS DOUBLE) AS bal,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer) t WHERE rn = 1
        ORDER BY c_nationkey
    """,
    # LATERAL subquery (reference: PostgreSQL LATERAL, gram.y
    # joined_table) — per-row dependent top-k; the same text runs on
    # Spark (Catalyst DecorrelateInnerQuery plans a ranked join) and
    # DuckDB.
    "sql_lateral_topk": """
        SELECT c_custkey, o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS price
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey < 200
    """,
    # Ordered-set aggregates (reference: orderedsetaggs.c — percentile_cont/
    # disc WITHIN GROUP). DuckDB spells these quantile_cont/disc (override).
    "sql_percentile": """
        SELECT o_orderpriority,
               CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS med_price,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p25_price
        FROM orders GROUP BY o_orderpriority
    """,
    # LIMIT ... WITH TIES (reference: nodeLimit.c LIMIT_OPTION_WITH_TIES) —
    # emulated as a RANK window filter, the same rewrite on both engines.
    "sql_limit_ties": """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM (
            SELECT o_orderkey, o_totalprice,
                   RANK() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC) AS rnk
            FROM orders
        ) t WHERE rnk <= 5
    """,
    # Window GROUPS frame mode (reference: gram.y:14728 opt_frame_clause).
    # Spark has no GROUPS syntax; the exact emulation is RANGE over
    # DENSE_RANK of the ORDER key — peer groups collapse to consecutive
    # integers, so RANGE n PRECEDING/FOLLOWING on the rank spans exactly
    # the n preceding/following peer GROUPS. EXCLUDE CURRENT ROW is the
    # frame sum minus the row's own value. DuckDB runs native GROUPS.
    "sql_window_groups": """
        WITH t AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   DENSE_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS dr
            FROM orders WHERE o_custkey < 100
        )
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                    (PARTITION BY o_custkey ORDER BY dr
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS grp_sum,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                    (PARTITION BY o_custkey ORDER BY dr
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                    - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS grp_sum_excl
        FROM t
    """,
    # Window EXCLUDE GROUP / EXCLUDE TIES (reference: gram.y:14728
    # opt_window_exclusion_clause). Spark has no EXCLUDE syntax; the
    # exact emulation subtracts the peer-group window from the frame:
    #   EXCLUDE GROUP = frame_sum - peer_sum   (NULL when frame==group)
    #   EXCLUDE TIES  = frame_sum - peer_sum + own value
    # The DuckDB oracle runs NATIVE EXCLUDE, proving equivalence.
    "sql_window_exclude": """
        WITH t AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   DENSE_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS dr
            FROM orders WHERE o_custkey < 100
        ), w AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                       (PARTITION BY o_custkey ORDER BY dr
                        RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fsum,
                   COUNT(*) OVER (PARTITION BY o_custkey ORDER BY dr
                        RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fcnt,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                       (PARTITION BY o_custkey, dr) AS gsum,
                   COUNT(*) OVER (PARTITION BY o_custkey, dr) AS gcnt
            FROM t)
        SELECT o_custkey, o_orderkey,
               CAST(CASE WHEN fcnt = gcnt THEN NULL ELSE fsum - gsum END AS DOUBLE) AS excl_group,
               CAST(fsum - gsum + p AS DOUBLE) AS excl_ties
        FROM w
    """,
    # Window EXCLUDE over NON-INVERTIBLE aggregates (min/max/collect —
    # the subtraction trick above only covers sum/count/avg). General
    # emulation: collect (peer-rank, row-id, value) structs over the
    # frame window, FILTER by the exclusion predicate, aggregate the
    # survivor array —
    #   EXCLUDE CURRENT ROW: x.xrid != rid
    #   EXCLUDE GROUP:       x.xdr  != dr
    #   EXCLUDE TIES:        x.xdr  != dr OR x.xrid = rid
    # O(frame) memory per row, so it suits bounded frames; DuckDB runs
    # NATIVE EXCLUDE as the oracle, proving exactness.
    "sql_window_exclude_minmax": """
        WITH t AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                   DENSE_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS dr,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rid
            FROM orders WHERE o_custkey < 100
        ), w AS (
            SELECT o_custkey, o_orderkey, dr, rid,
                   COLLECT_LIST(STRUCT(dr AS xdr, rid AS xrid, p AS v)) OVER
                       (PARTITION BY o_custkey ORDER BY dr
                        RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fr
            FROM t
        )
        SELECT o_custkey, o_orderkey,
               CAST(array_min(transform(filter(fr, x -> x.xrid != rid), x -> x.v)) AS DOUBLE) AS min_excl_cur,
               CAST(array_max(transform(filter(fr, x -> x.xdr != dr), x -> x.v)) AS DOUBLE) AS max_excl_group,
               CAST(array_min(transform(filter(fr, x -> x.xdr != dr OR x.xrid = rid), x -> x.v)) AS DOUBLE) AS min_excl_ties
        FROM w
    """,
    # TableFuncScan (reference: nodeTableFuncscan.c — XMLTABLE analog):
    # JSON document -> rows via from_json + explode.
    "sql_json_table": """
        SELECT k, count(*) AS n FROM (
            SELECT explode(map_keys(from_json(props, 'map<string,string>'))) AS k
            FROM events
        ) GROUP BY k
    """,
    # SampleScan (reference: nodeSamplescan.c:1, TABLESAMPLE). Spark's
    # native `TABLESAMPLE (n PERCENT)` / df.sample is partition-layout
    # dependent even with a seed, so the GATED variant uses md5-systematic
    # sampling — the standard reproducible-sample idiom at cluster scale —
    # which both engines compute identically. Native .sample() is covered
    # by pytest (tests/test_plans.py::test_sample_scan).
    "sql_tablesample": """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 1) IN ('0', '1')
    """,
    # WITH RECURSIVE (reference: nodeRecursiveunion.c) — native in Spark 4.
    "sql_recursive_cte": """
        WITH RECURSIVE seq(k) AS (
            SELECT 0
            UNION ALL
            SELECT k + 1 FROM seq WHERE k < 24
        )
        SELECT CAST(k AS BIGINT) AS nk, n_name,
               (SELECT count(*) FROM customer WHERE c_nationkey = k) AS n_cust
        FROM seq JOIN nation ON n_nationkey = k
    """,
}

# DuckDB-side text tweaks where dialects diverge.
SQL_ORACLE_OVERRIDES: dict[str, str] = {
    # native DISTINCT ON on the oracle side vs our window emulation
    "sql_distinct_on": """
        SELECT DISTINCT ON (c_nationkey)
               CAST(c_nationkey AS BIGINT) AS c_nationkey,
               c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
        FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey
    """,
    "sql_json_props": """
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    "sql_events_hourly": """
        SELECT CAST(date_trunc('hour', ts) AS DATE) AS d,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "sql_percentile": """
        SELECT o_orderpriority,
               CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS med_price,
               CAST(quantile_disc(o_totalprice, 0.25) AS DOUBLE) AS p25_price
        FROM orders GROUP BY o_orderpriority
    """,
    "sql_tablesample": """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    # sql_window_exclude: the oracle uses DuckDB's NATIVE window
    # EXCLUDE modes — the emulation must reproduce them exactly.
    "sql_window_exclude": """
        WITH t AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   DENSE_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS dr
            FROM orders WHERE o_custkey < 100
        )
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                    (PARTITION BY o_custkey ORDER BY dr
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                     EXCLUDE GROUP) AS DOUBLE) AS excl_group,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                    (PARTITION BY o_custkey ORDER BY dr
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                     EXCLUDE TIES) AS DOUBLE) AS excl_ties
        FROM t
    """,
    # sql_window_exclude_minmax: native DuckDB EXCLUDE over min/max —
    # the collect-filter-aggregate emulation must match it exactly.
    "sql_window_exclude_minmax": """
        WITH t AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                   DENSE_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS dr
            FROM orders WHERE o_custkey < 100
        )
        SELECT o_custkey, o_orderkey,
               CAST(MIN(p) OVER (PARTITION BY o_custkey ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                    EXCLUDE CURRENT ROW) AS DOUBLE) AS min_excl_cur,
               CAST(MAX(p) OVER (PARTITION BY o_custkey ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                    EXCLUDE GROUP) AS DOUBLE) AS max_excl_group,
               CAST(MIN(p) OVER (PARTITION BY o_custkey ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
                    EXCLUDE TIES) AS DOUBLE) AS min_excl_ties
        FROM t
    """,
    # sql_window_groups: no override — DuckDB lacks GROUPS mode too, so
    # the oracle runs the identical dense_rank RANGE emulation text.
    "sql_json_table": """
        SELECT k, count(*) AS n FROM (
            SELECT unnest(json_keys(props)) AS k FROM events
        ) GROUP BY k
    """,
}

# ---------------------------------------------------------------------------
# Pipeline operators (dedup / text / similarity)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"]).select(
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_copies").cast("long").alias("n_copies"))


def _q_dedup_bykey(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["lang", "source"]).select(
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_copies").cast("long").alias("n_copies"))


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: the per-doc feature math otherwise runs on the ONE
    # task a single-file corpus scan plans (r14 A/B; no-op at scale)
    return TX.text_stats(spread_scan(
        read_table(spark, sf_dir, "documents"), "doc_id"))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: r14 A/B 0.68 -> 0.41s — the n-gram profile scoring
    # is pure map CPU starved by the single-split scan (no-op at scale)
    return TX.lang_id(spread_scan(
        read_table(spark, sf_dir, "documents"), "doc_id"))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(read_table(spark, sf_dir, "documents")).select("doc_id", "md5")


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(read_table(spark, sf_dir, "documents"))


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.winnow_fingerprints(read_table(spark, sf_dir, "documents"))


def _q_jaccard_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_char_pairs(read_table(spark, sf_dir, "documents"), max_id=40)


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # min_est one sigma under the exact threshold (σ≈sqrt(.4*.6/32)≈.087):
    # templated corpora produce enormous est>=0.2 candidate sets, and the
    # exact-shingle verify is the expensive stage — prefilter tightly.
    # The fused pipeline's shingle hashes and signatures come from one
    # Arrow kernel pass (dedup._minhash_frame), and its candidates are
    # estimated and verified inside their band buckets by one sorted
    # Arrow scan (dedup._bucket_pairs) — no pair join; output identical
    # to the two-stage minhash_lsh_candidates + ngram_jaccard_pairs
    # composition, asserted in tests/test_differential_dedup.py.
    # hash_fn='md5' (the portable 60-bit md5-prefix hash) so the WHOLE
    # pipeline — shingle hash, affine min-hash, banding, est filter,
    # exact verify — is replayed by the DuckDB oracle below; the xxh64
    # fast path keeps its exact pure-Python differential in
    # tests/test_differential_dedup.py.
    return D.minhash_neardup_pairs(docs, min_est=0.3, threshold=0.4,
                                   hash_fn="md5").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_MD5_HASH_SQL = "CAST(('0x'||substring(md5({s}),1,15)) AS BIGINT)"


def _minhash_md5_oracle(num_hashes: int = 32, bands: int = 8, k: int = 5,
                        min_est: float = 0.3, threshold: float = 0.4,
                        max_bucket: int = 10_000,
                        source_sql: str = "SELECT doc_id, text FROM documents",
                        final_sql: "str | None" = None) -> str:
    """DuckDB replay of the ENTIRE gated MinHash-LSH pipeline in
    hash_fn='md5' mode — shingles, 60-bit md5-prefix shingle hashes,
    the 32 affine min-hash slots (same LCG-derived (a,b) params via
    dedup._mh_params), raw-string band keys, bucket cap, distinct
    member-sets, pair explosion, signature-agreement est filter, and
    exact shingle-set Jaccard verification.

    ``source_sql`` parameterizes the (doc_id, text) corpus so derived
    rows (fuzzy decontamination's parity-encoded union) replay the
    same pipeline; ``final_sql`` optionally replaces the terminal
    SELECT and may reference the ``v`` CTE (id_a, id_b, inter, uni)."""
    p = D._MH_PRIME
    rows = num_hashes // bands
    h = _MD5_HASH_SQL.format(s="s")
    mins = ",\n           ".join(
        f"list_min(list_transform(sh, h -> ((h % {p}) * {a} + {b}) % {p}))"
        for a, b in D._mh_params(num_hashes))
    # band index is folded into the key string ('<band>|<slice>') so a
    # single GROUP BY column keeps buckets of different bands separate
    bandkeys = ",\n         ".join(
        f"'{b}|' || array_to_string(sig[{b * rows + 1}:{b * rows + rows}], ',')"
        for b in range(bands))
    return f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct([substring(lower(text), CAST(i AS INT), {k})
                          FOR i IN range(1, greatest(length(text)-{k - 1}, 1)+1)]),
           s -> {h}) AS sh
  FROM ({source_sql})),
sig AS (
  SELECT doc_id, sh,
         [{mins}] AS sig
  FROM hs),
banded AS (
  SELECT doc_id, u.bkey
  FROM sig, unnest([{bandkeys}]) AS u(bkey)),
msets AS (
  SELECT DISTINCT ms FROM (
    SELECT list_sort(list(doc_id)) AS ms
    FROM banded GROUP BY bkey
    HAVING count(*) BETWEEN 2 AND {max_bucket})),
cands AS (
  SELECT DISTINCT u1.x AS id_a, u2.y AS id_b
  FROM msets, unnest(ms) AS u1(x), unnest(ms) AS u2(y)
  WHERE u1.x < u2.y),
est AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE len(list_filter(range(1, {num_hashes + 1}),
                        i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0
        >= {min_est}),
v AS (
  SELECT e.id_a, e.id_b,
         len(list_intersect(ha.sh, hb.sh)) AS inter,
         len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh)) AS uni
  FROM est e
  JOIN hs ha ON ha.doc_id = e.id_a
  JOIN hs hb ON hb.doc_id = e.id_b)
{final_sql if final_sql is not None else
       f"SELECT id_a, id_b, round(inter / uni, 6) AS jaccard "
       f"FROM v WHERE inter / uni >= {threshold}"}"""


def _q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: a train doc is contaminated
    when MinHash-near-dup to any doc of the held-out 'benchmark' slice
    (doc_id % 17 == 0 — the same slice the exact 8-gram row uses), so
    paraphrase-level leaks are caught too. Composition: ONE
    minhash_neardup_pairs run over the parity-encoded union."""
    docs = read_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    out = D.fuzzy_decontaminate(docs, eval_df, min_est=0.3, threshold=0.4,
                                hash_fn="md5")
    return out.select("doc_id",
                      F.round("max_eval_jaccard", 6).alias("max_eval_jaccard"),
                      "n_eval_matches", "contaminated")


def _fuzzy_decontaminate_oracle() -> str:
    """The md5 MinHash pipeline replayed over the parity-encoded
    train+eval union, cross-parity pairs aggregated per train doc."""
    return _minhash_md5_oracle(
        source_sql=(
            "SELECT doc_id * 2 AS doc_id, text FROM documents "
            "UNION ALL "
            "SELECT doc_id * 2 + 1 AS doc_id, text FROM documents "
            "WHERE doc_id % 17 = 0"),
        final_sql="""
, cx AS (
  SELECT CAST((CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2
              AS BIGINT) AS tid,
         inter / uni AS j
  FROM v
  WHERE inter / uni >= 0.4 AND (id_a % 2) <> (id_b % 2)),
hits AS (
  SELECT tid, max(j) AS mx, count(*) AS n FROM cx GROUP BY tid)
SELECT d.doc_id, round(h.mx, 6) AS max_eval_jaccard,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_eval_matches,
       h.tid IS NOT NULL AS contaminated
FROM documents d LEFT JOIN hits h ON h.tid = d.doc_id""")


def _simhash_md5_cte(bits: int = 32) -> str:
    """Shared DuckDB CTE computing (doc_id, simhash) in md5 mode —
    per-bit majority vote over whitespace-token md5-prefix hashes,
    exactly dedup.simhash(hash_fn='md5')."""
    h = _MD5_HASH_SQL.format(s="tok")
    sums = ",\n         ".join(
        f"sum((h >> {j}) & 1) AS b{j}" for j in range(bits))
    bitsum = " + ".join(
        f"(CASE WHEN b{j}*2 > n THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return rf"""toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents),
th AS (SELECT doc_id, {h} AS h FROM toks),
bsum AS (
  SELECT doc_id, count(*) AS n,
         {sums}
  FROM th GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({bitsum} AS BIGINT) AS simhash FROM bsum)"""


def _simhash_md5_oracle(bits: int = 32) -> str:
    return f"WITH {_simhash_md5_cte(bits)}\nSELECT doc_id, simhash FROM sim"


def _simhash_pairs_md5_oracle(max_hamming: int = 4, bands: int = 4,
                              bits: int = 32) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    return f"""WITH {_simhash_md5_cte(bits)},
banded AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * {width})) & {mask} AS bkey
  FROM sim, (SELECT unnest(range(0, {bands})) AS band) b),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5-portable mode: replayable by _simhash_md5_oracle in DuckDB
    return D.simhash(read_table(spark, sf_dir, "documents"), hash_fn="md5")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_neardup_pairs(read_table(spark, sf_dir, "documents"),
                                   max_hamming=4, hash_fn="md5")


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: per-doc merge-loop math starved by the single-split
    # scan (r14 A/B; no-op at scale)
    return TX.bpe_token_count(spread_scan(
        read_table(spark, sf_dir, "documents"), "doc_id"))


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = TX.tokens(read_table(spark, sf_dir, "documents"))
    return (toks.groupBy(F.lower("token").alias("tok"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("tok")).limit(50))


def _q_hybrid_cypher_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher result registered as a SQL view, consumed by spark.sql —
    the reference's Cypher-as-SQL-subquery form (cypher_dml.sql:26)."""
    eng = _engine(spark, sf_dir)
    eng.register_cypher_view(
        "cy_seg_counts",
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "RETURN c.c_mktsegment AS seg, o.o_totalprice AS total")
    return spark.sql(
        "SELECT seg, count(*) AS n, "
        "CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total "
        "FROM cy_seg_counts GROUP BY seg")


def _q_hybrid_sql_in_cypher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar subquery inside a Cypher expression (reference:
    cypher_expr.sql:262-267)."""
    register_tables(spark, sf_dir)
    eng = _engine(spark, sf_dir)
    return eng.cypher(
        "MATCH (c:customer) "
        "WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer) "
        "RETURN count(*) AS n_above_avg")


def _q_hybrid_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SQL scalar subquery inside a Cypher RETURN (reference:
    cypher_expr.sql:262-267; parse_graph.c:373 SubLink transform) —
    hoisted into the pipeline as a Spark SQL lateral scalar column, so
    Catalyst plans the decorrelated left-joined aggregate."""
    register_tables(spark, sf_dir, only=("lineitem",))
    eng = _engine(spark, sf_dir)
    return eng.cypher(
        "MATCH (o:orders) WHERE o.o_orderkey < 500 "
        "RETURN o.o_orderkey AS okey, "
        "(SELECT count(*) FROM lineitem WHERE l_orderkey = o.o_orderkey) AS n_items")


def _q_hybrid_in_sublink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-SubLink: Cypher property membership in a SQL subquery's row
    set (reference cypher_expr.sql:263-266 `n.i IN (SELECT ...)`,
    ANY_SUBLINK) — hoisted as a collected-array column, compiled to
    array_contains."""
    register_tables(spark, sf_dir, only=("orders",))
    eng = _engine(spark, sf_dir)
    return eng.cypher(
        "MATCH (c:customer) "
        "WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000) "
        "RETURN count(c) AS n")


def _q_cy_nested_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested property access through the CYPHER expression path
    (reference: CypherAccessExpr jsonb traversal,
    src/backend/executor/execExprInterp.c:1882): dot- and
    bracket-chained access over a JSON document column, aggregated
    Cypher-side. Mixes `ev.props.k` and `ev['props']['k']` forms."""
    register_tables(spark, sf_dir, only=("events",))
    eng = _engine(spark, sf_dir)
    return eng.cypher(
        "LOAD FROM events AS ev "
        "WITH ev.event_type AS etype, toInteger(ev.props.k) AS k, "
        "toInteger(ev['props']['k']) AS k2 "
        "RETURN etype, count(*) AS n, sum(k) AS k_sum, max(k2) AS k_max")


def _q_csv_foreign_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ForeignScan/COPY surface (reference: contrib/file_fdw/,
    src/backend/commands/copyto.c): COPY the nation table out to CSV,
    foreign-scan it back with an explicit schema, and aggregate. The
    round-trip exercises both sides of the bulk CSV path."""
    import os
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "spark-warehouse", "csv_nation")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    back = (spark.read.option("header", True)
            .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
            .csv(out))
    return (back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n_nations"),
                 F.min("n_name").alias("first_name"))
            .select(F.col("n_regionkey").cast("long").alias("rkey"),
                    F.col("n_nations").cast("long").alias("n_nations"),
                    "first_name"))


def _q_mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthesize_media(read_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id", "kind",
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
        F.col("meta.channels").cast("long").alias("channels"),
        F.col("meta.n_frames").cast("long").alias("n_frames"),
        F.length("payload").cast("long").alias("payload_bytes"))


def _q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metadata-only consumer: frame_index reads meta.n_frames, never the
    # payload — spread=False keeps the bare pruned scan (no exchange)
    media = MM.synthesize_media(read_table(spark, sf_dir, "documents"),
                                spread=False)
    return (MM.frame_index(media, every_n=10)
            .groupBy("media_id").agg(F.count(F.lit(1)).alias("n_sampled")))


def _q_mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RIFF/WAV PCM decode (multimodal.py decode_wav) over every
    synthetic audio clip; the DuckDB oracle replays the closed-form
    samples ((mid*37 + j*256) % 65536, signed) with a generate_series
    scan. Integer sums stay far below 2^53, so mean is exact to the
    last ulp on both sides and the rounding is hash-stability
    cosmetics."""
    media = MM.synthesize_media(read_table(spark, sf_dir, "documents"))
    return MM.audio_stats(media).select(
        "media_id", "n_samples", "sample_rate",
        F.round("mean_value", 4).alias("mean_value"),
        "min_value", "max_value")


def _q_mm_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real YUV4MPEG2 decode (multimodal.py decode_y4m) over every
    synthetic video; the DuckDB oracle replays the closed-form pixels
    ((mid*29 + f*17 + 3t) % 256) with a generate_series scan over
    (frame, byte). Integer sums stay far below 2^53, so mean is exact
    to the last ulp on both sides."""
    media = MM.synthesize_media(read_table(spark, sf_dir, "documents"))
    return MM.video_stats(media).select(
        "media_id", "n_frames", "frame_h", "frame_w",
        F.round("mean_value", 4).alias("mean_value"),
        "min_value", "max_value")


def _q_mm_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real netpbm decode (multimodal.py decode_netpbm) over every
    synthetic image; the DuckDB oracle replays the closed-form pixels
    with a generate_series scan. mean_value is exact to the last ulp on
    both sides (integer pixel sum < 2^53 divided by n), so the rounding
    is only hash-stability cosmetics; std is checked separately by the
    exact pure-Python replay in tests/test_multimodal.py."""
    media = MM.synthesize_media(read_table(spark, sf_dir, "documents"))
    return MM.image_stats(media).select(
        "media_id", "n_pixels", F.round("mean_value", 4).alias("mean_value"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"))


def _q_graphmeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ag_graphmeta analog: per (edge label, start labid, end labid)
    edge counts (reference: src/include/catalog/ag_graphmeta.h:30)."""
    return _engine(spark, sf_dir).graph.edge_stats().select(
        "edge_label",
        F.col("start_labid").cast("long").alias("start_labid"),
        F.col("end_labid").cast("long").alias("end_labid"),
        "edgecount")


# Embedding width is a dataset constant — probe it once per (session,
# sf_dir) instead of once per ANN/near-dup call (each probe is a whole
# driver-side Spark job before any real work; the per-call version
# measurably regressed dedup_embedding_cosine in BENCH_r04).
_EMB_DIM: dict[str, int] = {}


def _emb_dim(emb: DataFrame, sf_dir: str) -> int:
    d = _EMB_DIM.get(sf_dir)
    if d is None:
        d = emb.select(F.size("embedding")).first()[0]
        _EMB_DIM[sf_dir] = d
    return d


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.cosine_neardup_pairs(emb, threshold=0.25, max_id=100,
                                  dim=_emb_dim(emb, sf_dir))


def _q_heuristic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: the regex/distinct-token signals are pure map CPU
    # starved by the single-split scan (r14 A/B: 0.69 -> 0.39s; no-op
    # at scale). The OPERATOR stays exchange-free — the spread is this
    # row's input layout fix, not part of the gate's shape.
    return TX.heuristic_filter(spread_scan(
        read_table(spark, sf_dir, "documents"), "doc_id"))


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lm_perplexity(read_table(spark, sf_dir, "documents"))


# trained quantizer cache: centroids are a dataset constant — at scale
# they are trained once offline and persisted with the snapshot, so the
# workload row trains once per sf_dir (one kmeans_update pass), not per
# invocation (same caching rationale as _EMB_DIM). Keyed on
# (sf_dir, mtime of the embeddings parquet) so a path whose data is
# regenerated in-process (e.g. scale tooling rewriting a dir) retrains
# instead of reusing stale centroids and diverging from the oracle.
_SEMDEDUP_CENTS: dict[tuple, "list[list[float]]"] = {}


def _emb_mtime(sf_dir: str) -> float:
    import os as _os
    p = _os.path.join(sf_dir, "embeddings.parquet")
    try:
        if _os.path.isdir(p):
            return max((e.stat().st_mtime for e in _os.scandir(p)),
                       default=0.0)
        return _os.path.getmtime(p)
    except OSError:
        return 0.0


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    _ck = (sf_dir, _emb_mtime(sf_dir))
    cents = _SEMDEDUP_CENTS.get(_ck)
    if cents is None:
        # ONE Lloyd round from the seeded init — the trained-quantizer
        # production path (balanced clusters on non-isotropic data);
        # the means are SNAPPED to 9 decimals before use (the oracle
        # rounds its avg the same way) so the cross-engine float-sum
        # noise in avg (~1e-16) cannot sit on a tag-flip boundary;
        # unit-normalized because semantic_dedup tags by raw dot
        means = S.train_ivf_centroids(emb, n_lists=16, rounds=1,
                                      dim=_emb_dim(emb, sf_dir))
        cents = S.unit_normalized([[round(x, 9) for x in c] for c in means])
        _SEMDEDUP_CENTS[_ck] = cents
    # max_cluster passed EXPLICITLY: the library default is None (exact
    # semantics — external callers opt in to the skew cap); the registry
    # row keeps the documented production cap, and the tail parity suite
    # asserts n_over_cap == 0 on every oracle corpus so the cap never
    # actually bites here
    return S.semantic_dedup(emb, tau=0.2, cents=cents, max_cluster=10_000)


def _q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_stats(read_table(spark, sf_dir, "documents"))


# intra-document repetition gate: line-level signals via list ops, the
# modal-bigram count via unnest + per-doc groupBy (the oracle need not
# mirror the engine's sorted-run fold, only its answer)
_REPETITION_FILTER_ORACLE = r"""
    WITH base AS (
        SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
               CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars,
               CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                    - coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS dup_line_chars,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
               ELSE []::VARCHAR[] END AS bigrams,
               CASE WHEN len(toks) >= 5 THEN
                   list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i + 4], ' '))
               ELSE []::VARCHAR[] END AS fgs
        FROM base),
    cnt AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS g FROM feat) GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS best FROM cnt GROUP BY 1),
    bps AS (
        SELECT f.doc_id, f.n_lines,
               CAST(floor(n_dup_lines * 10000 / n_lines) AS BIGINT) AS dup_line_bp,
               CAST(CASE WHEN line_chars > 0
                    THEN floor(dup_line_chars * 10000 / line_chars) ELSE 0 END AS BIGINT) AS dup_line_char_bp,
               CAST(CASE WHEN len(bigrams) > 0
                    THEN floor(coalesce(t.best, 0) * 10000 / len(bigrams)) ELSE 0 END AS BIGINT) AS top_bigram_bp,
               CAST(CASE WHEN len(fgs) > 0
                    THEN floor((len(fgs) - len(list_distinct(fgs))) * 10000 / len(fgs)) ELSE 0 END AS BIGINT) AS dup_fivegram_bp
        FROM feat f LEFT JOIN top t USING (doc_id))
    SELECT doc_id, n_lines, dup_line_bp, dup_line_char_bp, top_bigram_bp,
           dup_fivegram_bp,
           (dup_line_bp <= 3000 AND dup_line_char_bp <= 3000
            AND top_bigram_bp <= 1800 AND dup_fivegram_bp <= 3000) AS keep
    FROM bps"""


_HEURISTIC_FILTER_ORACLE = r"""
    WITH s AS (
        SELECT doc_id, text,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
        FROM documents)
    SELECT doc_id,
           n_tok AS n_tokens,
           CAST(CASE WHEN n_tok > 0 THEN floor(n_uniq * 10000 / n_tok) ELSE 0 END AS BIGINT) AS ttr_bp,
           CAST(CASE WHEN n_chars > 0 THEN floor(n_dig * 10000 / n_chars) ELSE 0 END AS BIGINT) AS digit_bp,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           (n_tok >= 20 AND n_tok <= 100000
            AND CASE WHEN n_tok > 0 THEN floor(n_uniq * 10000 / n_tok) ELSE 0 END >= 2000
            AND CASE WHEN n_chars > 0 THEN floor(n_dig * 10000 / n_chars) ELSE 0 END <= 2000
            AND NOT contains(text, '{')
            AND NOT contains(lower(text), 'lorem ipsum')) AS keep
    FROM s"""


def _analytics_graph(spark: SparkSession, sf_dir: str):
    """supplier->nation->region DAG with string-namespaced vertex ids
    ('s7', 'n3', 'r1') so the three key spaces can't collide."""
    sup = read_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"))
    nat = read_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"))
    edges = sup.unionByName(nat)
    verts = (read_table(spark, sf_dir, "supplier")
             .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("id"))
             .unionByName(read_table(spark, sf_dir, "nation")
                          .select(F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("id")))
             .unionByName(read_table(spark, sf_dir, "region")
                          .select(F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("id"))))
    return edges, verts


_ANALYTICS_VERTS_SQL = """
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS id FROM supplier
        UNION ALL
        SELECT 'n' || CAST(n_nationkey AS VARCHAR) FROM nation
        UNION ALL
        SELECT 'r' || CAST(r_regionkey AS VARCHAR) FROM region"""

_ANALYTICS_EDGES_SQL = """
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS src,
               'n' || CAST(s_nationkey AS VARCHAR) AS dst FROM supplier
        UNION ALL
        SELECT 'n' || CAST(n_nationkey AS VARCHAR),
               'r' || CAST(n_regionkey AS VARCHAR) FROM nation"""


def _q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _analytics_graph(spark, sf_dir)
    return AN.degree_stats(edges, verts)


_DEGREE_ORACLE = f"""
    WITH verts AS ({_ANALYTICS_VERTS_SQL}),
    edges AS ({_ANALYTICS_EDGES_SQL}),
    o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
    i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_deg FROM edges GROUP BY dst)
    SELECT v.id, COALESCE(o.out_deg, 0) AS out_deg, COALESCE(i.in_deg, 0) AS in_deg
    FROM (SELECT DISTINCT id FROM verts) v
    LEFT JOIN o ON o.id = v.id LEFT JOIN i ON i.id = v.id"""


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _analytics_graph(spark, sf_dir)
    return AN.pagerank(edges, verts, iters=3).select(
        "id", F.round("pr", 6).alias("pr"))


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    """The oracle replays the fixed-iteration recurrence as chained
    CTEs; damping constants are written as the same float expressions
    Spark evaluates (1.0 - 0.85 is NOT 0.15 in IEEE doubles)."""
    ctes = [f"verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"edges AS ({_ANALYTICS_EDGES_SQL})",
            "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
            "ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg ON deg.src = e.src)",
            "pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM verts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"pr{k} AS (SELECT v.id, (1.0 - {damping}) + {damping} * COALESCE(c.c, 0.0) AS pr "
            f"FROM verts v LEFT JOIN (SELECT ed.dst AS id, sum(p.pr / ed.d) AS c "
            f"FROM ed JOIN pr{k-1} p ON p.id = ed.src GROUP BY ed.dst) c ON c.id = v.id)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT id, round(pr, 6) AS pr FROM pr{iters}")


def _q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _analytics_graph(spark, sf_dir)
    return AN.label_propagation(edges, verts, iters=3)


def _lpa_oracle(iters: int = 3) -> str:
    """Chained-CTE replay of the deterministic synchronous LPA rounds
    (modal neighbor label, count DESC then label ASC; isolated
    vertices keep their own)."""
    ctes = [f"verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"raw AS ({_ANALYTICS_EDGES_SQL})",
            "sym AS MATERIALIZED (SELECT src, dst FROM raw UNION "
            "SELECT dst AS src, src AS dst FROM raw)",
            "l0 AS (SELECT id, id AS label FROM verts)"]
    for k in range(1, iters + 1):
        # MATERIALIZED: each generation is referenced twice (join +
        # fallback), and DuckDB's default inlining re-evaluates the
        # chain exponentially
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT l.id, COALESCE(m.label, l.label) AS label "
            f"FROM l{k-1} l LEFT JOIN ("
            f"SELECT id, label FROM ("
            f"SELECT s.dst AS id, p.label, "
            f"row_number() OVER (PARTITION BY s.dst "
            f"ORDER BY count(*) DESC, p.label ASC) AS rn "
            f"FROM sym s JOIN l{k-1} p ON p.id = s.src "
            f"GROUP BY s.dst, p.label) WHERE rn = 1) m ON m.id = l.id)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT id, label AS community FROM l{iters}")


def _q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part—supplier co-occurrence graph (distinct
    lineitem pairs, string-namespaced so the key spaces can't
    collide) — cyclic, so a non-trivial core survives the peel."""
    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return AN.k_core(edges, k=4)


def _kcore_oracle(k: int = 4, rounds: int = 8) -> str:
    """Chained-CTE replay of the k-core peel: ``rounds`` fixed
    iterations of (degree >= k survivor filter, both-endpoint edge
    filter). The peel is idempotent at the fixpoint, so a fixed round
    count equals the data-dependent loop whenever it converges within
    ``rounds`` — the dense bipartite part—supplier graph converges in
    two or three. Every CTE is MATERIALIZED: each survivor set is
    referenced twice per round, and DuckDB's default inlining would
    re-evaluate the whole chain exponentially."""
    ctes = [
        "raw AS MATERIALIZED (SELECT DISTINCT "
        "'p' || CAST(l_partkey AS VARCHAR) AS src, "
        "'s' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem)",
        "s0 AS MATERIALIZED (SELECT src, dst FROM raw UNION "
        "SELECT dst AS src, src AS dst FROM raw)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT src FROM s{r-1} GROUP BY src "
            f"HAVING count(*) >= {k})")
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT e.src, e.dst FROM s{r-1} e "
            f"JOIN k{r} a ON a.src = e.src "
            f"JOIN k{r} b ON b.src = e.dst)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT src AS id, count(*) AS degree "
              f"FROM s{rounds} GROUP BY src")


def _q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the same-order part co-occurrence graph (each order
    contributes a clique on its parts, so multi-line orders seed
    genuine triangle-dense regions; cross-order edges thin out and
    peel away). Same graph as graph_triangles."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    pairs = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .select(F.col("x.l_partkey").alias("src"),
                     F.col("y.l_partkey").alias("dst")))
    return AN.k_truss(pairs, k=4).select(
        "src", "dst", F.col("support").cast("long").alias("support"))


def _ktruss_oracle(k: int = 4, rounds: int = 6) -> str:
    """Fixed-round replay of the k-truss peel (idempotent at the
    fixpoint, same strategy as _kcore_oracle): per round a plain
    wedge-join triangle count per surviving edge, then the support
    filter. The final SELECT recounts support on the converged edge
    set — identical to the operator's last-iteration support."""
    ctes = [
        "raw AS MATERIALIZED (SELECT DISTINCT "
        "least(x.l_partkey, y.l_partkey) AS a, "
        "greatest(x.l_partkey, y.l_partkey) AS b "
        "FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey "
        "WHERE x.l_partkey < y.l_partkey)",
        "s0 AS MATERIALIZED (SELECT a, b FROM raw)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"y{r} AS MATERIALIZED (SELECT src, dst FROM ("
            f"SELECT a AS src, b AS dst FROM s{r-1} "
            f"UNION ALL SELECT b, a FROM s{r-1}))")
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT e.a, e.b, count(*) AS c "
            f"FROM s{r-1} e JOIN y{r} s1 ON s1.src = e.a "
            f"JOIN y{r} s2 ON s2.src = e.b AND s2.dst = s1.dst "
            f"GROUP BY e.a, e.b)")
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT e.a, e.b FROM s{r-1} e "
            f"LEFT JOIN t{r} t ON t.a = e.a AND t.b = e.b "
            f"WHERE COALESCE(t.c, 0) >= {k - 2})")
    return ("WITH " + ",\n    ".join(ctes)
            + f""",
    yf AS (SELECT src, dst FROM (
        SELECT a AS src, b AS dst FROM s{rounds}
        UNION ALL SELECT b, a FROM s{rounds})),
    tf AS (SELECT e.a, e.b, count(*) AS c
           FROM s{rounds} e JOIN yf s1 ON s1.src = e.a
           JOIN yf s2 ON s2.src = e.b AND s2.dst = s1.dst
           GROUP BY e.a, e.b)
    SELECT e.a AS src, e.b AS dst,
           CAST(COALESCE(t.c, 0) AS BIGINT) AS support
    FROM s{rounds} e LEFT JOIN tf t ON t.a = e.a AND t.b = e.b""")


def _q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority over the supplier→nation→region hierarchy —
    nations are the authorities (many supplier hubs point at them),
    suppliers the hubs."""
    edges, verts = _analytics_graph(spark, sf_dir)
    return AN.hits(edges, verts, iters=3).select(
        "id", F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"))


def _hits_oracle(iters: int = 3) -> str:
    """Chained-CTE replay of the max-normalized HITS recurrence
    (operators/analytics.py `hits`). Every per-round frame is
    MATERIALIZED: the raw frames feed both their max() scalar and the
    normalized select, and each normalized frame feeds the next round
    plus the final projection — DuckDB's default inlining would
    re-evaluate the chain exponentially."""
    ctes = [f"verts AS MATERIALIZED (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"edges AS MATERIALIZED ({_ANALYTICS_EDGES_SQL})",
            "h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"ar{k} AS MATERIALIZED (SELECT v.id, COALESCE(s._a, 0.0) AS auth "
            f"FROM verts v LEFT JOIN (SELECT e.dst AS id, sum(h.hub) AS _a "
            f"FROM edges e JOIN h{k-1} h ON h.id = e.src GROUP BY e.dst) s "
            f"ON s.id = v.id)")
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT id, CASE WHEN m._m > 0 "
            f"THEN auth / m._m ELSE 0.0 END AS auth FROM ar{k} "
            f"CROSS JOIN (SELECT max(auth) AS _m FROM ar{k}) m)")
        ctes.append(
            f"hr{k} AS MATERIALIZED (SELECT v.id, COALESCE(s._h, 0.0) AS hub "
            f"FROM verts v LEFT JOIN (SELECT e.src AS id, sum(a.auth) AS _h "
            f"FROM edges e JOIN a{k} a ON a.id = e.dst GROUP BY e.src) s "
            f"ON s.id = v.id)")
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT id, CASE WHEN m._m > 0 "
            f"THEN hub / m._m ELSE 0.0 END AS hub FROM hr{k} "
            f"CROSS JOIN (SELECT max(hub) AS _m FROM hr{k}) m)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT a.id, round(a.auth, 6) AS authority, "
              f"round(h.hub, 6) AS hub "
              f"FROM a{iters} a JOIN h{iters} h ON h.id = a.id")


def _q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the region vertices, walking
    the hierarchy DOWNWARD (edges reversed: region→nation→supplier),
    so restart mass spreads from the 5 regions out to their nations
    and suppliers — the topic-sensitive ranking a recommendation
    query wants."""
    edges, verts = _analytics_graph(spark, sf_dir)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sources = verts.filter(F.col("id").startswith("r"))
    return AN.personalized_pagerank(rev, verts, sources, iters=3).select(
        "id", F.round("ppr", 6).alias("ppr"))


def _ppr_oracle(iters: int = 3, damping: float = 0.85) -> str:
    """Chained-CTE replay of the personalized-PageRank recurrence
    (operators/analytics.py `personalized_pagerank`): restart mass
    1/|S| on the region seeds, damping constants written as the same
    float expressions Spark evaluates."""
    ctes = [f"verts AS MATERIALIZED (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"fwd AS ({_ANALYTICS_EDGES_SQL})",
            "edges AS MATERIALIZED (SELECT dst AS src, src AS dst FROM fwd)",
            "srcs AS (SELECT id FROM verts WHERE id LIKE 'r%')",
            "restart AS MATERIALIZED (SELECT v.id, CASE WHEN s.id IS NOT NULL "
            "THEN 1.0 / ns._ns ELSE 0.0 END AS restart FROM verts v "
            "LEFT JOIN srcs s ON s.id = v.id CROSS JOIN "
            "(SELECT CAST(count(*) AS DOUBLE) AS _ns FROM srcs) ns)",
            "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
            "ed AS MATERIALIZED (SELECT e.src, e.dst, deg.d FROM edges e "
            "JOIN deg ON deg.src = e.src)",
            "p0 AS (SELECT id, restart AS ppr FROM restart)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT r.id, "
            f"(1.0 - {damping}) * r.restart + {damping} * COALESCE(c._c, 0.0) AS ppr "
            f"FROM restart r LEFT JOIN (SELECT ed.dst AS id, "
            f"sum(p.ppr / ed.d) AS _c FROM ed JOIN p{k-1} p ON p.id = ed.src "
            f"GROUP BY ed.dst) c ON c.id = r.id)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT id, round(ppr, 6) AS ppr FROM p{iters}")


def _q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop harmonic centrality over the symmetrized hierarchy graph
    — region hubs dominate, isolated suppliers score low."""
    edges, verts = _analytics_graph(spark, sf_dir)
    return AN.harmonic_centrality(edges, verts, max_hops=3).select(
        "id", "n_reached", F.round("harmonic", 6).alias("harmonic"))


def _q_graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eppstein-Wang sampled harmonic centrality: BFS from the 25
    nation vertices only (a FIXED deterministic seed set — replayable),
    each vertex's observed 1/d sum scaled by |V|/|S|. The scale-safe
    configuration on dense graphs: state is |S| x reach, not
    |V| x reach."""
    edges, verts = _analytics_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").startswith("n"))
    return AN.harmonic_centrality_sampled(edges, verts, seeds,
                                          max_hops=3).select(
        "id", "n_sampled", F.round("harmonic_est", 6).alias("harmonic_est"))


def _q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes-Pich sampled betweenness, radius 3, from the 25 nation
    vertices — the same fixed deterministic seed configuration as
    graph_harmonic_sampled; forward sigma BFS + backward dependency
    accumulation are both closed-form join chains at fixed max_hops,
    so the oracle replays them as chained CTEs."""
    edges, verts = _analytics_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").startswith("n"))
    return AN.betweenness_centrality_sampled(
        edges, verts, seeds, max_hops=3).select(
        "id", F.round("bc_est", 6).alias("bc_est"))


def _betweenness_oracle(max_hops: int = 3) -> str:
    """Chained-CTE replay of betweenness_centrality_sampled (forward
    shortest-path counts per hop, backward Brandes dependency per
    level, |V|/|S| scale-up in Spark's multiply-then-divide order)."""
    ctes = [f"verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"raw AS ({_ANALYTICS_EDGES_SQL})",
            "sym AS MATERIALIZED (SELECT src, dst FROM ("
            "SELECT src, dst FROM raw UNION "
            "SELECT dst AS src, src AS dst FROM raw) WHERE src <> dst)",
            "seeds AS (SELECT id FROM verts WHERE id LIKE 'n%')",
            "f0 AS (SELECT id AS s, id AS v, CAST(1.0 AS DOUBLE) AS sigma "
            "FROM seeds)",
            "c0 AS (SELECT s, v FROM f0)"]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"g{h} AS (SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma "
            f"FROM f{h-1} f JOIN sym e ON e.src = f.v GROUP BY f.s, e.dst)")
        ctes.append(
            f"f{h} AS MATERIALIZED (SELECT g.s, g.v, g.sigma FROM g{h} g "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{h-1} c "
            f"WHERE c.s = g.s AND c.v = g.v))")
        ctes.append(
            f"c{h} AS MATERIALIZED (SELECT * FROM c{h-1} "
            f"UNION ALL SELECT s, v FROM f{h})")
    ctes.append(f"d{max_hops} AS (SELECT s, v, sigma, "
                f"CAST(0.0 AS DOUBLE) AS delta FROM f{max_hops})")
    for h in range(max_hops - 1, 0, -1):
        ctes.append(
            f"x{h} AS (SELECT f.s, f.v, "
            f"sum(f.sigma / t.sigma * (1.0 + t.delta)) AS _d "
            f"FROM f{h} f JOIN sym e ON e.src = f.v "
            f"JOIN d{h+1} t ON t.s = f.s AND t.v = e.dst "
            f"GROUP BY f.s, f.v)")
        ctes.append(
            f"d{h} AS MATERIALIZED (SELECT f.s, f.v, f.sigma, "
            f"COALESCE(x._d, 0.0) AS delta FROM f{h} f "
            f"LEFT JOIN x{h} x ON x.s = f.s AND x.v = f.v)")
    acc = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{h}" for h in range(1, max_hops + 1))
    return ("WITH " + ",\n    ".join(ctes)
            + f""",
    acc AS ({acc}),
    st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM verts) AS _n,
                  (SELECT CAST(count(*) AS DOUBLE) FROM seeds) AS _ns)
    SELECT v.id,
           round(COALESCE(r.b, 0.0) * st._n / st._ns, 6) AS bc_est
    FROM verts v CROSS JOIN st LEFT JOIN (
        SELECT v, sum(delta) AS b FROM acc WHERE s <> v GROUP BY v) r
      ON r.v = v.id""")


def _harmonic_sampled_oracle(max_hops: int = 3) -> str:
    """Chained-CTE replay of the seeded multi-source BFS
    (operators/analytics.py `harmonic_centrality_sampled`): f0 is the
    seed set, the final sum is scaled by |V|/|S| in the same
    multiply-then-divide order Spark evaluates."""
    ctes = [f"verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"raw AS ({_ANALYTICS_EDGES_SQL})",
            "sym AS MATERIALIZED (SELECT src, dst FROM ("
            "SELECT src, dst FROM raw UNION "
            "SELECT dst AS src, src AS dst FROM raw) WHERE src <> dst)",
            "seeds AS (SELECT id FROM verts WHERE id LIKE 'n%')",
            "f0 AS (SELECT id AS s, id AS v, 0 AS d FROM seeds)",
            "c0 AS (SELECT * FROM f0)"]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"f{h} AS MATERIALIZED (SELECT n.s, n.v, {h} AS d FROM ("
            f"SELECT DISTINCT f.s, e.dst AS v FROM f{h-1} f "
            f"JOIN sym e ON e.src = f.v) n "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{h-1} c "
            f"WHERE c.s = n.s AND c.v = n.v))")
        ctes.append(
            f"c{h} AS MATERIALIZED (SELECT * FROM c{h-1} "
            f"UNION ALL SELECT * FROM f{h})")
    return ("WITH " + ",\n    ".join(ctes)
            + f""",
    st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM verts) AS _n,
                  (SELECT CAST(count(*) AS DOUBLE) FROM seeds) AS _ns)
    SELECT v.id, CAST(COALESCE(r.n, 0) AS BIGINT) AS n_sampled,
           round(COALESCE(r.h, 0.0) * st._n / st._ns, 6) AS harmonic_est
    FROM verts v CROSS JOIN st LEFT JOIN (
        SELECT v AS id, count(*) AS n, sum(1.0 / d) AS h
        FROM c{max_hops} WHERE d > 0 GROUP BY v) r ON r.id = v.id""")


def _harmonic_oracle(max_hops: int = 3) -> str:
    """Chained-CTE replay of the bounded multi-source BFS
    (operators/analytics.py `harmonic_centrality`): per hop a frontier
    expansion + NOT EXISTS against the cumulative seen set."""
    ctes = [f"verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}))",
            f"raw AS ({_ANALYTICS_EDGES_SQL})",
            "sym AS MATERIALIZED (SELECT src, dst FROM ("
            "SELECT src, dst FROM raw UNION "
            "SELECT dst AS src, src AS dst FROM raw) WHERE src <> dst)",
            "f0 AS (SELECT id AS u, id AS v, 0 AS d FROM verts)",
            "c0 AS (SELECT * FROM f0)"]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"f{h} AS MATERIALIZED (SELECT n.u, n.v, {h} AS d FROM ("
            f"SELECT DISTINCT f.u, e.dst AS v FROM f{h-1} f "
            f"JOIN sym e ON e.src = f.v) n "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{h-1} c "
            f"WHERE c.u = n.u AND c.v = n.v))")
        ctes.append(
            f"c{h} AS MATERIALIZED (SELECT * FROM c{h-1} "
            f"UNION ALL SELECT * FROM f{h})")
    return ("WITH " + ",\n    ".join(ctes)
            + f"""
    SELECT v.id, CAST(COALESCE(r.n, 0) AS BIGINT) AS n_reached,
           COALESCE(r.h, 0.0) AS harmonic
    FROM verts v LEFT JOIN (
        SELECT u AS id, count(*) AS n, round(sum(1.0 / d), 6) AS h
        FROM c{max_hops} WHERE d > 0 GROUP BY u) r ON r.id = v.id""")


def _q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-step walks over the SYMMETRIZED hierarchy graph
    from every nation vertex — the node2vec-style corpus generator,
    hash-seeded so runs (and the SQL oracle) reproduce exactly."""
    edges, verts = _analytics_graph(spark, sf_dir)
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .distinct())
    starts = verts.filter(F.col("id").startswith("n"))
    # the typed path_ids array is for downstream corpus generation; the
    # oracle row compares the equivalent '->'-joined string (the driver
    # canonicalizer rejects container cells) — path carries the same
    # information, and the pytest replay pins path_ids == split(path)
    return AN.random_walks(sym, starts, steps=3) \
        .select("walk_id", "final", "path")


def _walks_oracle(steps: int = 3, salt: str = "w") -> str:
    """Chained-CTE replay of the hash-seeded walk recurrence
    (operators/analytics.py `random_walks`): both engines compute
    md5('salt:walk_id:step:dst') over identical strings, rank
    ascending with dst tie-break, and advance the frontier."""
    ctes = [f"raw AS ({_ANALYTICS_EDGES_SQL})",
            "edges AS MATERIALIZED (SELECT src, dst FROM raw UNION "
            "SELECT dst AS src, src AS dst FROM raw)",
            f"starts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL}) "
            "WHERE id LIKE 'n%')",
            "w0 AS (SELECT id AS walk_id, id AS cur, id AS path FROM starts)"]
    for k in range(1, steps + 1):
        ctes.append(
            f"c{k} AS MATERIALIZED (SELECT w.walk_id, w.cur, w.path, e.dst, "
            f"md5('{salt}' || ':' || w.walk_id || ':' || '{k-1}' || ':' || e.dst) AS h "
            f"FROM w{k-1} w LEFT JOIN edges e ON e.src = w.cur)")
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT walk_id, COALESCE(dst, cur) AS cur, "
            f"CASE WHEN dst IS NOT NULL THEN path || '->' || dst "
            f"ELSE path END AS path FROM (SELECT *, row_number() OVER ("
            f"PARTITION BY walk_id ORDER BY h, dst) AS rn FROM c{k}) "
            f"WHERE rn = 1)")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT walk_id, cur AS final, path FROM w{steps}")


def _seed_centroids(n_lists: int = 16, dim: int = 64, seed: int = 42):
    import numpy as np
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value histogram (bin width 50) — the profiling
    rollup every ingestion pipeline runs on numeric columns."""
    ev = read_table(spark, sf_dir, "events")
    return AN.histogram(ev, "value", 50.0, by=("event_type",))


_HISTOGRAM_ORACLE = """
    SELECT event_type, floor(value / 50.0) * 50.0 AS bin_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, floor(value / 50.0) * 50.0"""


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tfidf_scores(read_table(spark, sf_dir, "documents"))


_TFIDF_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
           WHERE token <> '' GROUP BY doc_id, token),
    docfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id,
               sum(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / docfreq.df)) / sum(tf.tf) AS score
        FROM tf JOIN docfreq USING (token) CROSS JOIN n
        GROUP BY tf.doc_id)
    SELECT d.doc_id, COALESCE(round(s.score, 6), 0.0) AS tfidf_mean
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: overlap of every training doc's
    8-gram set with a held-out 'benchmark' slice (doc_id % 17 == 0) —
    slice members collide with themselves in full, near-dups partially."""
    docs = read_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    return D.ngram_overlap(docs, eval_df, n=8)


_DECONTAMINATE_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8 THEN
                   list_distinct(list_transform(range(1, len(t) - 8 + 2),
                       i -> substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16)))
               ELSE [] END AS g
        FROM toks),
    ev AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0),
    tr AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    hits AS (
        SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM tr WHERE tr.gram IN (SELECT gram FROM ev) GROUP BY tr.doc_id)
    SELECT g.doc_id, CAST(len(g.g) AS BIGINT) AS n_grams,
           COALESCE(h.n_hits, 0) AS n_hits
    FROM grams g LEFT JOIN hits h ON h.doc_id = g.doc_id"""


def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English slice: hashed
    unigram+bigram bucket models, ln(p_en/p_all) summed per doc —
    the domain-upsampling score of Xie et al. 2023."""
    docs = read_table(spark, sf_dir, "documents")
    return TX.dsir_weights(docs, F.col("lang") == "en")


_DSIR_ORACLE = r"""
    WITH docs AS (
        SELECT doc_id, lang = 'en' AS t,
               CASE WHEN len(trim(lower(text))) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS a
        FROM documents),
    uni AS (SELECT doc_id, t, unnest(a) AS g FROM docs),
    bi AS (SELECT doc_id, t,
                  unnest(list_transform(range(1, len(a)),
                                        i -> a[i] || ' ' || a[i+1])) AS g
           FROM docs WHERE len(a) >= 2),
    feats AS MATERIALIZED (
        SELECT doc_id, t, substr(md5(g), 1, 2) AS b
        FROM (SELECT * FROM uni WHERE g <> '' UNION ALL SELECT * FROM bi)),
    tc AS (SELECT b, count(*) AS tc FROM feats WHERE t GROUP BY b),
    rc AS (SELECT b, count(*) AS rc FROM feats GROUP BY b),
    tt AS (SELECT count(*) AS tt FROM feats WHERE t),
    rt AS (SELECT count(*) AS rt FROM feats),
    model AS (
        SELECT rc.b,
               ln(((COALESCE(tc.tc, 0) + 1.0) / (tt.tt + 256.0))
                  / ((rc.rc + 1.0) / (rt.rt + 256.0))) AS lr
        FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tt CROSS JOIN rt),
    scored AS (
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               sum(m.lr) AS lw
        FROM feats f JOIN model m ON m.b = f.b GROUP BY f.doc_id)
    SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
           round(s.lw, 6) AS log_w
    FROM docs d LEFT JOIN scored s ON s.doc_id = d.doc_id"""


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicate 8-gram spans (the ExactSubstr
    approximation) over the documents corpus."""
    # spread_scan: both gram-extraction subtrees (positions + n_grams)
    # otherwise hash every window on the ONE task the single-file scan
    # plans (r14 A/B: 1.31 -> 0.88s; no-op on a many-file layout)
    docs = spread_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    return D.duplicate_spans(docs, n=8)


_DUP_SPANS_ORACLE = r"""
    WITH docs AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
    g AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(t) >= 8 THEN
                   list_transform(range(1, len(t) - 8 + 2),
                       i -> substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16))
               ELSE [] END AS w
        FROM docs),
    pos AS MATERIALIZED (
        SELECT doc_id, i - 1 AS pos, w[i] AS h
        FROM g, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
    dup AS (SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
    marked AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
    rl AS (SELECT doc_id,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                      AS grp
           FROM marked),
    runs AS (SELECT doc_id, grp, count(*) AS run FROM rl GROUP BY doc_id, grp),
    per AS (SELECT doc_id, sum(run) AS n_dup, max(run) AS maxrun
            FROM runs GROUP BY doc_id)
    SELECT g.doc_id, CAST(len(g.w) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(p.maxrun + 7, 0) AS BIGINT) AS max_span_tokens
    FROM g LEFT JOIN per p ON p.doc_id = g.doc_id"""


def _q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-docs-per-source cap (the anti-domain-dominance
    pass of C4/RefinedWeb mixes)."""
    docs = read_table(spark, sf_dir, "documents")
    return SMP.cap_per_group(docs, "source", 10).select(
        "doc_id", "source", "group_rank")


_CAP_PER_SOURCE_ORACLE = """
    SELECT doc_id, source, CAST(group_rank AS BIGINT) AS group_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS group_rank
        FROM documents) WHERE group_rank <= 10"""


def _q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every doc gets a (shard, pos)
    address that is a pure function of (seed, id) — reproducible
    training order with NO global sort (per-shard rank windows only)."""
    docs = read_table(spark, sf_dir, "documents")
    return SMP.epoch_shuffle(docs, seed="ep1", n_shards=8).select(
        "doc_id", "shard", "pos")


_EPOCH_SHUFFLE_ORACLE = """
    SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           CAST(pos AS BIGINT) AS pos
    FROM (
      SELECT doc_id, h8 % 8 AS shard,
             row_number() OVER (PARTITION BY h8 % 8
                 ORDER BY h, doc_id) AS pos
      FROM (SELECT doc_id,
                   md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h,
                   ('0x' || substring(
                       md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   )::BIGINT AS h8
            FROM documents))"""


def _q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-outlier flagging: keep docs whose n_chars
    sits within [p10, p90] of their OWN language — the stratified
    truncation/concatenation filter of standard curation funnels."""
    docs = read_table(spark, sf_dir, "documents")
    return TX.outlier_bounds_filter(
        docs, "n_chars", by=("lang",), lo=0.10, hi=0.90).select(
        "doc_id", "lang", "n_chars", "lo_bound", "hi_bound", "keep")


_LENGTH_OUTLIERS_ORACLE = """
    WITH b AS (
      SELECT lang,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.10), 6) AS lo_bound,
             round(quantile_cont(CAST(n_chars AS DOUBLE), 0.90), 6) AS hi_bound
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars, b.lo_bound, b.hi_bound,
           CAST(d.n_chars AS DOUBLE) >= b.lo_bound
             AND CAST(d.n_chars AS DOUBLE) <= b.hi_bound AS keep
    FROM documents d JOIN b ON b.lang = d.lang"""


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup (control chars, unicode spaces,
    whitespace runs, edge trim) — the normalization pass run before
    hashing/dedup so byte noise can't defeat exact dedup."""
    return TX.normalize_text(read_table(spark, sf_dir, "documents"))


# DuckDB regexps are RE2 like Spark's; the 'g' flag matters (DuckDB
# replaces only the first match by default, Spark replaces all)
_NORMALIZE_TEXT_ORACLE = r"""
    WITH n AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}\x{200c}\x{200d}\x{feff}]',
                   '', 'g'),
                 '[\x{00a0}\x{1680}\x{2000}-\x{200a}\x{202f}\x{205f}\x{3000}]',
                 ' ', 'g'),
               '\s+', ' ', 'g')) AS norm_text
      FROM documents)
    SELECT doc_id, norm_text, norm_text <> text AS changed,
           CAST(length(text) - length(norm_text) AS BIGINT) AS n_chars_saved
    FROM n"""


def _q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step from the seeded IVF centroids — assignment +
    per-cluster mean, centroids rendered as integer micro-units."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.kmeans_update(emb, _seed_centroids())
    return out.select(
        "list_id", "n_assigned",
        F.concat_ws(",", F.transform(
            "centroid",
            lambda x: F.round(x * F.lit(1_000_000.0)).cast("long").cast("string")
        )).alias("centroid_micro"))


def _kmeans_oracle(n_lists: int = 16, dim: int = 64, seed: int = 42) -> str:
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(_seed_centroids(n_lists, dim, seed)))
    return f"""
    WITH cents(li, cv) AS (VALUES {rows}),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assigned AS (
        SELECT vec_id, v, li AS list_id FROM (
            SELECT c.vec_id, c.v, cents.li,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, cents.cv) DESC,
                                cents.li DESC) AS rn
            FROM corpus c CROSS JOIN cents) WHERE rn = 1),
    flat AS (
        SELECT a.list_id, u.pos, u.val
        FROM assigned a,
             LATERAL (SELECT generate_subscripts(a.v, 1) AS pos,
                             unnest(a.v) AS val) u),
    agg AS (SELECT list_id, pos, avg(val) AS m, count(*) AS n
            FROM flat GROUP BY list_id, pos)
    SELECT list_id, CAST(min(n) AS BIGINT) AS n_assigned,
           string_agg(CAST(CAST(round(m * 1000000) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY pos) AS centroid_micro
    FROM agg GROUP BY list_id"""


def _q_neighbor_mean_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature propagation over the near-dup pair graph: element-wise
    neighborhood-mean embeddings. The vector ships as comma-joined
    integer micro-units — double->string rendering differs between
    engines, integer rendering doesn't."""
    emb = read_table(spark, sf_dir, "embeddings")
    bounded = emb.filter(F.col("vec_id") < 100)
    pairs = S.cosine_neardup_pairs(emb, threshold=0.25, max_id=100,
                                   dim=_emb_dim(emb, sf_dir))
    out = S.neighbor_mean_embeddings(pairs.select("id_a", "id_b"), bounded)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.transform(
            "embedding",
            lambda x: F.round(x * F.lit(1_000_000.0)).cast("long").cast("string")
        )).alias("emb_micro"))


_NEIGHBOR_MEAN_ORACLE = """
    WITH pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 100 AND b.vec_id < 100
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.25),
    sym AS (
        SELECT ida AS s, idb AS d FROM pairs
        UNION ALL SELECT idb, ida FROM pairs
        UNION ALL SELECT vec_id, vec_id FROM embeddings WHERE vec_id < 100),
    flat AS (
        SELECT sym.s, u.pos, u.val
        FROM sym JOIN embeddings e ON e.vec_id = sym.d,
             LATERAL (SELECT generate_subscripts(e.embedding, 1) AS pos,
                             unnest(CAST(e.embedding AS DOUBLE[])) AS val) u),
    agg AS (SELECT s, pos, avg(val) AS m FROM flat GROUP BY s, pos)
    SELECT s AS vec_id,
           string_agg(CAST(CAST(round(m * 1000000) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY pos) AS emb_micro
    FROM agg GROUP BY s"""


def _q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (parts
    sharing an order are adjacent) — degree-oriented enumeration vs the
    oracle's naive three-way self-join. Top 50 by (count, id) keeps the
    compare deterministic and small."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .select(F.col("x.l_partkey").alias("src"),
                     F.col("y.l_partkey").alias("dst")))
    return (AN.triangle_counts(pairs)
            .orderBy(F.col("n_triangles").desc(), F.col("id").asc())
            .limit(50)
            .select(F.col("id").alias("part_id"), "n_triangles"))


_TRIANGLE_ORACLE = """
    WITH e AS (
        SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
               greatest(x.l_partkey, y.l_partkey) AS b
        FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        WHERE x.l_partkey < y.l_partkey),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1 JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
        SELECT a AS part_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY part_id
    ORDER BY n_triangles DESC, part_id ASC LIMIT 50"""


def _q_graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components over the supplier->nation->region
    DAG — the same min-label operator fuzzy dedup uses (labels are
    lexicographic mins over the string vertex ids); every vertex of a
    region's tree lands in that tree's min-id component."""
    edges, verts = _analytics_graph(spark, sf_dir)
    cc = D.connected_components(edges.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")), nodes=verts)
    return (cc.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_vertices"),
                 F.min("id").alias("min_id"), F.max("id").alias("max_id"))
            .select("component", "n_vertices", "min_id", "max_id"))


_GRAPH_WCC_ORACLE = f"""
    WITH RECURSIVE verts AS (SELECT DISTINCT id FROM ({_ANALYTICS_VERTS_SQL})),
    edges AS ({_ANALYTICS_EDGES_SQL}),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM verts
        UNION
        SELECT sym.dst, reach.r FROM reach JOIN sym ON sym.src = reach.id),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT component, CAST(count(*) AS BIGINT) AS n_vertices,
           min(id) AS min_id, max(id) AS max_id
    FROM comp GROUP BY component"""


def _scc_graph(spark: SparkSession, sf_dir: str):
    """Part-transition digraph: for each order, the low-quantity lines
    (l_quantity < 9) ordered by line number, with a directed edge from
    each line's part to the next line's part. Line order is arbitrary
    relative to part ids, so edges run both 'up' and 'down' the key
    space and real cycles form (sf0.01: one 473-part SCC amid ~1500
    singletons; sf0.001: two non-trivial SCCs) — the threshold keeps
    the DuckDB closure oracle small while leaving genuine structure."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_quantity") < 9)
          .select("l_orderkey", "l_partkey", "l_linenumber"))
    from pyspark.sql import Window
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    edges = (li.withColumn("_nxt", F.lead("l_partkey").over(w))
             .filter(F.col("_nxt").isNotNull())
             .select(F.col("l_partkey").alias("src"),
                     F.col("_nxt").alias("dst")))
    verts = li.select(F.col("l_partkey").alias("id")).distinct()
    return edges, verts


def _q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (trim + forward/backward min-label
    rounds) summarized per component — the directed complement of
    graph_wcc; component ids are true min member ids, so the summary
    pins the full labeling."""
    edges, verts = _scc_graph(spark, sf_dir)
    cc = AN.strongly_connected_components(edges, verts)
    return (cc.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_vertices"),
                 F.max("id").alias("max_id"))
            .select("component", "n_vertices", "max_id"))


_GRAPH_SCC_ORACLE = """
    WITH RECURSIVE f AS (
        SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        WHERE l_quantity < 9),
    s AS (
        SELECT l_orderkey, l_partkey,
               lead(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber) AS nxt
        FROM f),
    e AS (SELECT DISTINCT l_partkey AS src, nxt AS dst FROM s
          WHERE nxt IS NOT NULL),
    verts AS (SELECT DISTINCT l_partkey AS id FROM f),
    reach(a, b) AS (
        SELECT id, id FROM verts
        UNION
        SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b),
    mutual AS (
        SELECT r1.a AS id, r1.b AS m
        FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
    comp AS (SELECT id, min(m) AS component FROM mutual GROUP BY id)
    SELECT component, CAST(count(*) AS BIGINT) AS n_vertices,
           max(id) AS max_id
    FROM comp GROUP BY component"""


def _q_quantize_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = S.quantize_embeddings(read_table(spark, sf_dir, "embeddings"))
    # the driver's row canonicalizer rejects container cells — ship the
    # int8 vector as its csv rendering (pins every element exactly)
    return out.select(
        "vec_id", F.round("scale", 9).alias("scale"),
        F.concat_ws(",", F.transform("q", lambda x: x.cast("string"))).alias("q_csv"))


_QUANTIZE_ORACLE = """
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS amax
        FROM embeddings)
    SELECT vec_id, round(amax / 127.0, 9) AS scale,
           array_to_string(CASE WHEN amax > 0
                THEN list_transform(v, x -> CAST(floor(x * 127.0 / amax) AS INTEGER))
                ELSE list_transform(v, x -> 0) END, ',') AS q_csv
    FROM s"""


def _q_vocab_ws_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.vocab_topk(read_table(spark, sf_dir, "documents"), k=40)


_VOCAB_ORACLE = r"""
    SELECT token, n FROM (
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
              FROM documents)
        WHERE token <> ''
        GROUP BY token)
    ORDER BY n DESC, token ASC LIMIT 40"""


def _q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a corpus seeded with synthetic contact strings
    (the generated docs are clean word soup — appending a derived
    email/ssn/phone per doc gives the regexes real work, and the
    redacted-text md5 pins the full rewrite, not just the counts)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@mail.example.com ssn 123-45-6789 tel +1 (555) 010-"),
                 F.lpad(F.pmod(F.col("doc_id"), 10_000).cast("string"), 4, "0"),
                 ).alias("text"))
    out = TX.redact_pii(docs)
    return out.select("doc_id", "n_email", "n_ssn", "n_phone",
                      F.md5("text_redacted").alias("redacted_md5"))


_REDACT_ORACLE = r"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com ssn 123-45-6789 tel +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents),
    e AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g') AS t
          FROM seeded),
    s AS (SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
                 regexp_replace(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[PII]', 'g') AS t
          FROM e),
    p AS (SELECT doc_id, n_email, n_ssn,
                 CAST(len(regexp_extract_all(t, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS BIGINT) AS n_phone,
                 regexp_replace(t, '\+?[0-9][0-9()\-\s]{7,}[0-9]', '[PII]', 'g') AS t
          FROM s)
    SELECT doc_id, n_email, n_ssn, n_phone, md5(t) AS redacted_md5 FROM p"""


def _q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: keep all docs of one source, thin the
    rest to fixed per-source rates, decided by md5(doc_id) so the
    sample is engine- and partitioning-independent."""
    docs = read_table(spark, sf_dir, "documents")
    out = SMP.mix_sample(docs, "source", {"src0": 0.25, "src1": 1.0},
                         key_col="doc_id", default_rate=0.5)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"))


_MIX_SAMPLE_ORACLE = """
    SELECT source, count(*) AS n_kept,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE source WHEN 'src0' THEN '4000'
                        WHEN 'src1' THEN 'g'
                        ELSE '8000' END
    GROUP BY source"""


def _q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup canonicalization: connected components over the
    embedding-cosine near-dup pair graph; every doc keeps its
    component's min id and the representative is flagged. Singletons
    (no near-dup partner) are their own component."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_pairs(emb, threshold=0.25, max_id=100,
                                   dim=_emb_dim(emb, sf_dir))
    nodes = emb.filter(F.col("vec_id") < 100).select("vec_id")
    cc = D.connected_components(pairs.select("id_a", "id_b"), nodes=nodes)
    return cc.select(F.col("id").alias("vec_id"),
                     F.col("component").alias("cluster_id"),
                     (F.col("id") == F.col("component")).alias("is_canonical"))


_DEDUP_CLUSTER_ORACLE = """
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 100 AND b.vec_id < 100
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.25
    ), edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION ALL
        SELECT idb, ida FROM pairs
    ), reach(id, r) AS (
        SELECT vec_id, vec_id FROM embeddings WHERE vec_id < 100
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS vec_id, min(r) AS cluster_id,
           (id = min(r)) AS is_canonical
    FROM reach GROUP BY id"""


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: the dedup_cluster components,
    but keeping each cluster's LONGEST document (n_chars, ties to the
    lowest id) instead of the arbitrary min-id member — the 'keep the
    best copy' rule of real curation funnels. Argmax is one hash
    aggregate (never a per-cluster sort window)."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_pairs(emb, threshold=0.25, max_id=100,
                                   dim=_emb_dim(emb, sf_dir))
    nodes = emb.filter(F.col("vec_id") < 100).select("vec_id")
    cc = D.connected_components(pairs.select("id_a", "id_b"), nodes=nodes)
    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("n_chars").alias("score"))
    return D.canonical_by_score(cc, docs).select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_id"),
        F.col("score").alias("n_chars"), "keep", "best_id")


_DEDUP_KEEP_BEST_ORACLE = """
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 100 AND b.vec_id < 100
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.25
    ), edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION ALL
        SELECT idb, ida FROM pairs
    ), reach(id, r) AS (
        SELECT vec_id, vec_id FROM embeddings WHERE vec_id < 100
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ), cc AS (
        SELECT id, min(r) AS component FROM reach GROUP BY id
    ), scored AS (
        SELECT cc.id, cc.component, d.n_chars
        FROM cc JOIN documents d ON d.doc_id = cc.id
    ), best AS (
        SELECT component, id AS best_id FROM (
            SELECT component, id, row_number() OVER (
                PARTITION BY component
                ORDER BY n_chars DESC, id ASC) AS rn FROM scored)
        WHERE rn = 1
    )
    SELECT s.id AS vec_id, s.component AS cluster_id,
           CAST(s.n_chars AS BIGINT) AS n_chars,
           s.id = b.best_id AS keep, b.best_id
    FROM scored s JOIN best b ON b.component = s.component"""


def _q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming rollup, executed for real through Structured
    Streaming (file source → watermarked window agg → memory sink,
    availableNow trigger) — results must equal the batch oracle."""
    from agensgraph_spark.loader import normalize_event_ts
    # Watermarks require TIMESTAMP (not NTZ). Pin the session to UTC so the
    # NTZ→TIMESTAMP cast is wall-clock-preserving and date_format below
    # renders the same naive value the DuckDB oracle computes.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = stream.withColumn(
        "ts", normalize_event_ts(raw_schema["ts"].dataType).cast("timestamp"))
    from agensgraph_spark.streaming import windowed_event_counts
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("stream_hourly_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_hourly_sink").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type", "n",
        F.round("total_value", 6).alias("total_value"))


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup for real: at-least-once delivery becomes an
    exactly-once key set via dropDuplicatesWithinWatermark (bounded
    state). Emits the retained (user, type, hour) keys — a SET, so the
    first-arrival nondeterminism of dedup never reaches the compare."""
    from agensgraph_spark.loader import normalize_event_ts
    from agensgraph_spark.streaming import stream_dedup
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = stream.withColumn(
        "ts", normalize_event_ts(raw_schema["ts"].dataType).cast("timestamp"))
    stream = stream.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    ded = stream_dedup(stream, ["user_id", "event_type", "hour"], watermark="2 hours")
    out = ded.select("user_id", "event_type",
                     F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hr"))
    q = (out.writeStream.format("memory").queryName("stream_dedup_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_dedup_sink")


def _q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel as ONE composed query — quality gate →
    embedding-cosine near-dup clustering → canonical representative →
    deterministic mix sampling — reporting per-source survivor counts
    at each stage. Every stage is the already-verified operator; the
    oracle replays the whole funnel in SQL (recursive CTE for the
    clustering)."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    kept = (TX.heuristic_filter(docs, carry=("source",))
            .filter(F.col("keep")).select("doc_id", "source"))
    kept_emb = emb.join(kept.select(F.col("doc_id").alias("vec_id")),
                        "vec_id", "left_semi")
    pairs = S.cosine_neardup_pairs(kept_emb, threshold=0.25,
                                   dim=_emb_dim(emb, sf_dir))
    cc = D.connected_components(pairs.select("id_a", "id_b"),
                                nodes=kept.select(F.col("doc_id")))
    canon = (cc.filter(F.col("id") == F.col("component"))
             .select(F.col("id").alias("doc_id")))
    canon_docs = kept.join(canon, "doc_id", "left_semi")
    final = SMP.mix_sample(canon_docs, "source", {"src0": 1.0},
                           key_col="doc_id", default_rate=0.5)
    return (kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_pass_filter"))
            .join(canon_docs.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_canonical")), "source", "left")
            .join(final.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_final")), "source", "left")
            .select("source", "n_pass_filter",
                    F.coalesce("n_canonical", F.lit(0)).alias("n_canonical"),
                    F.coalesce("n_final", F.lit(0)).alias("n_final")))


_CURATE_ORACLE = r"""
    WITH RECURSIVE sig AS (
        SELECT doc_id, source, text,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
        FROM documents),
    kept AS (
        SELECT doc_id, source FROM sig
        WHERE n_tok >= 20 AND n_tok <= 100000
          AND CASE WHEN n_tok > 0 THEN floor(n_uniq * 10000 / n_tok) ELSE 0 END >= 2000
          AND CASE WHEN n_chars > 0 THEN floor(n_dig * 10000 / n_chars) ELSE 0 END <= 2000
          AND NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')),
    pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id IN (SELECT doc_id FROM kept)
          AND b.vec_id IN (SELECT doc_id FROM kept)
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.25),
    e2 AS (SELECT ida AS src, idb AS dst FROM pairs
           UNION ALL SELECT idb, ida FROM pairs),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM kept
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN e2 ON e2.src = reach.id),
    canon AS (
        SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(r)),
    canon_docs AS (
        SELECT k.doc_id, k.source FROM kept k JOIN canon c ON c.doc_id = k.doc_id),
    final AS (
        SELECT doc_id, source FROM canon_docs
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              < CASE source WHEN 'src0' THEN 'g' ELSE '8000' END)
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_pass_filter,
           CAST(COALESCE(cd.n, 0) AS BIGINT) AS n_canonical,
           CAST(COALESCE(f.n, 0) AS BIGINT) AS n_final
    FROM kept k
    LEFT JOIN (SELECT source, count(*) AS n FROM canon_docs GROUP BY source) cd
           ON cd.source = k.source
    LEFT JOIN (SELECT source, count(*) AS n FROM final GROUP BY source) f
           ON f.source = k.source
    GROUP BY k.source, cd.n, f.n"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pack_sequences(read_table(spark, sf_dir, "documents"),
                             budget=512, by=("source",), shards=4)


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling at alpha=0.5 over a deliberately
    IMBALANCED stratification (the generated `source` column is
    uniform — rates would all be 1.0 and the keep decision would
    never fire): docs are bucketed 50/25/12.5/12.5 into
    web/books/wiki/code by doc_id, so 'web' is downsampled hardest
    and the two smallest strata keep rate 1.0. Rates come from the
    data in-plan (closed form min_j n_j^0.5 / n_i^0.5); the rate
    column rides out rounded for mix-card auditing."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.when(F.col("doc_id") % 16 < 8, F.lit("web"))
         .when(F.col("doc_id") % 16 < 12, F.lit("books"))
         .when(F.col("doc_id") % 16 < 14, F.lit("wiki"))
         .otherwise(F.lit("code")))
    return SMP.temperature_mix(docs, "stratum", "doc_id",
                               alpha=0.5).select(
        "doc_id", "stratum", F.round("mix_rate", 6).alias("mix_rate"))


_TEMPERATURE_MIX_ORACLE = """
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 16 < 8 THEN 'web'
                    WHEN doc_id % 16 < 12 THEN 'books'
                    WHEN doc_id % 16 < 14 THEN 'wiki'
                    ELSE 'code' END AS stratum
        FROM documents),
    cnt AS (SELECT stratum, CAST(count(*) AS DOUBLE) AS n
            FROM d GROUP BY stratum),
    pw AS (SELECT stratum, POWER(n, 0.5) AS pw FROM cnt),
    mn AS (SELECT min(pw) AS mn FROM pw),
    rates AS (SELECT stratum, mn / pw AS mix_rate FROM pw CROSS JOIN mn)
    SELECT d.doc_id, d.stratum, round(r.mix_rate, 6) AS mix_rate
    FROM d JOIN rates r USING (stratum)
    WHERE r.mix_rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', CAST(FLOOR(r.mix_rate * 65536) AS INT))"""


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG/embedding prep) — the
    full chunk text rides in the compare, so the slice arithmetic and
    the overlap coverage are pinned byte-for-byte."""
    return TX.chunk_documents(read_table(spark, sf_dir, "documents"),
                              chunk_tokens=32, overlap=8)


_CHUNK_DOCS_ORACLE = r"""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(lower(text))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS t
        FROM documents),
    sized AS (
        SELECT doc_id, t, len(t) AS n,
               1 + CAST(ceil(greatest(n - 32, 0) / 24) AS INT) AS nc
        FROM base WHERE len(t) > 0),
    ex AS (
        SELECT doc_id, t,
               unnest(generate_series(0, nc - 1)) AS chunk_id
        FROM sized)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 24 + 1 AS BIGINT) AS start_token,
           CAST(len(list_slice(t, chunk_id * 24 + 1,
                               chunk_id * 24 + 32)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(t, chunk_id * 24 + 1,
                                      chunk_id * 24 + 32), ' ') AS chunk_text
    FROM ex"""


_PACK_ORACLE = r"""
    WITH t AS (
        SELECT doc_id, source, doc_id % 4 AS shard,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok
        FROM documents),
    c AS (SELECT doc_id, source, shard, n_tok,
                 sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tok AS start
          FROM t)
    SELECT doc_id, source, shard, n_tok AS n_tokens,
           CAST(floor(start / 512) AS BIGINT) AS bin_id,
           CAST(start - floor(start / 512) * 512 AS BIGINT) AS bin_offset
    FROM c"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the user's latest preceding click —
    the classic feature-engineering as-of shape. The oracle is
    DuckDB's NATIVE ASOF LEFT JOIN, so the union+window formulation is
    checked against an independent reference implementation."""
    from agensgraph_spark.operators import temporal as TP
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase") \
          .select("event_id", "user_id", "ts", "value")
    c = ev.filter(F.col("event_type") == "click") \
          .select("user_id", "ts", "value")
    j = TP.asof_join(p, c, on="ts", by=("user_id",))
    return j.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format(F.col("matched")["ts"],
                      "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.round(F.col("matched")["value"], 6).alias("click_value"))


_ASOF_ORACLE = """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           round(c.value, 6) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts"""


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's NEXT purchase (forward as-of) —
    oracle is DuckDB's native ASOF with the inequality flipped."""
    from agensgraph_spark.operators import temporal as TP
    ev = read_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click") \
          .select("event_id", "user_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase") \
          .select("user_id", "ts", "value")
    j = TP.asof_join(c, p, on="ts", by=("user_id",), direction="forward")
    return j.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format(F.col("matched")["ts"],
                      "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.round(F.col("matched")["value"], 6).alias("purchase_value"))


_ASOF_FWD_ORACLE = """
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(p.value, 6) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts"""


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization (30-min gap) + per-session
    rollup — the batch twin of stream_sessionize, same boundaries, no
    watermark cutoff. One shuffle total: the session windows and the
    (user, session) aggregate share the user-key partitioning."""
    from agensgraph_spark.operators import temporal as TP
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    s = TP.assign_sessions(ev, "user_id", "ts", gap_seconds=1800)
    return (s.groupBy("user_id", "session_seq")
            .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("ss"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("se"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("double")), 6)
                 .alias("total_value")))


_SESSIONIZE_BATCH_ORACLE = """
    WITH m AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM m)
    SELECT user_id, session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ss,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS se,
           count(*) AS n_events,
           round(SUM(CAST(value AS DOUBLE) ORDER BY ts), 6) AS total_value
    FROM s GROUP BY user_id, session_seq"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks landing inside a 2-hour window after an error of the
    same user — interval containment via the binned equi-join (the
    oracle runs the plain inequality join)."""
    from agensgraph_spark.operators import temporal as TP
    ev = read_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"))
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    j = TP.range_join(clk, err, point="click_ts", start="w_start",
                      end="w_end", by=("user_id",), bin_sec=7200.0)
    return j.select("err_id", "click_id", "user_id")


_RANGE_ORACLE = """
    SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
    FROM events e JOIN events c
      ON c.user_id = e.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR"""


def _q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data quality gate run as a STREAM: documents land
    as files, the Gopher/C4 heuristic filter (pure column expressions,
    so it runs unchanged under Structured Streaming) scores each
    micro-batch, and per-(source, verdict) counters accumulate in the
    sink — the live 'what fraction of the crawl survives' dashboard
    feed. Stateless map + complete-mode aggregate; the batch oracle is
    the same filter in plain SQL."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    scored = TX.heuristic_filter(stream, carry=("source",))
    agg = scored.groupBy("source", "keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"))
    q = (agg.writeStream.format("memory").queryName("stream_quality_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_quality_sink")


def _q_stream_repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The intra-document repetition gate as a STREAM: identical
    map-only column expressions, so the operator runs unchanged under
    Structured Streaming; per-(source, verdict) survival counters in
    the sink. The batch oracle re-derives the same signals in SQL."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    scored = TX.repetition_stats(stream, carry=("source",))
    agg = scored.groupBy("source", "keep").agg(
        F.count(F.lit(1)).alias("n_docs"))
    q = (agg.writeStream.format("memory").queryName("stream_repetition_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_repetition_sink")


_STREAM_REPETITION_ORACLE = r"""
    WITH base AS (
        SELECT doc_id, source,
               string_split(text, chr(10)) AS lines,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
    feat AS (
        SELECT doc_id, source,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
               CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars,
               CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                    - coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS dup_line_chars,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
               ELSE []::VARCHAR[] END AS bigrams,
               CASE WHEN len(toks) >= 5 THEN
                   list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i + 4], ' '))
               ELSE []::VARCHAR[] END AS fgs
        FROM base),
    cnt AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS g FROM feat) GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS best FROM cnt GROUP BY 1),
    bps AS (
        SELECT f.doc_id, f.source,
               CAST(floor(n_dup_lines * 10000 / n_lines) AS BIGINT) AS dup_line_bp,
               CAST(CASE WHEN line_chars > 0
                    THEN floor(dup_line_chars * 10000 / line_chars) ELSE 0 END AS BIGINT) AS dup_line_char_bp,
               CAST(CASE WHEN len(bigrams) > 0
                    THEN floor(coalesce(t.best, 0) * 10000 / len(bigrams)) ELSE 0 END AS BIGINT) AS top_bigram_bp,
               CAST(CASE WHEN len(fgs) > 0
                    THEN floor((len(fgs) - len(list_distinct(fgs))) * 10000 / len(fgs)) ELSE 0 END AS BIGINT) AS dup_fivegram_bp
        FROM feat f LEFT JOIN top t USING (doc_id))
    SELECT source,
           (dup_line_bp <= 3000 AND dup_line_char_bp <= 3000
            AND top_bigram_bp <= 1800 AND dup_fivegram_bp <= 3000) AS keep,
           count(*) AS n_docs
    FROM bps GROUP BY 1, 2"""


_STREAM_QUALITY_ORACLE = r"""
    WITH s AS (
        SELECT doc_id, source, text,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
        FROM documents),
    k AS (SELECT doc_id, source, n_tok, text,
                 (n_tok >= 20 AND n_tok <= 100000
                  AND CASE WHEN n_tok > 0 THEN floor(n_uniq * 10000 / n_tok) ELSE 0 END >= 2000
                  AND CASE WHEN n_chars > 0 THEN floor(n_dig * 10000 / n_chars) ELSE 0 END <= 2000
                  AND NOT contains(text, '{')
                  AND NOT contains(lower(text), 'lorem ipsum')) AS keep
          FROM s)
    SELECT source, keep, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM k GROUP BY source, keep"""


def _q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a batch-derived
    user profile (spend tier from total purchase value) and rolls up
    per (tier, event_type) — the standard dimension-join shape
    Structured Streaming executes with the static side simply re-read
    per micro-batch. Batch oracle replays the same join."""
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    profile = (batch.filter(F.col("event_type") == "purchase")
               .groupBy("user_id")
               .agg(F.sum("value").alias("_total"))
               .select("user_id",
                       F.when(F.col("_total") >= 500, F.lit("high"))
                        .otherwise(F.lit("low")).alias("tier")))
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    enriched = stream.join(profile, "user_id", "left") \
        .select(F.coalesce("tier", F.lit("none")).alias("tier"), "event_type")
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    q = (agg.writeStream.format("memory").queryName("stream_enrich_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_enrich_sink")


_STREAM_ENRICH_ORACLE = """
    WITH profile AS (
        SELECT user_id,
               CASE WHEN sum(value) >= 500 THEN 'high' ELSE 'low' END AS tier
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COALESCE(p.tier, 'none') AS tier, e.event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events e LEFT JOIN profile p ON p.user_id = e.user_id
    GROUP BY 1, 2"""


def _q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-to-view attribution): two
    branches of the event stream — clicks and views — joined per user
    with views arriving in the 12 hours before each click, both sides
    under event-time watermarks (the range predicate is what bounds
    the join state; see streaming/join.py). Batch oracle replays the
    identical join."""
    from agensgraph_spark.loader import normalize_event_ts
    from agensgraph_spark.streaming.join import interval_join
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = stream.withColumn(
        "ts", normalize_event_ts(raw_schema["ts"].dataType).cast("timestamp"))
    clicks = (stream.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts")))
    views = (stream.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"),
                     F.col("value").alias("view_value")))
    joined = interval_join(
        clicks, views, F.col("c_user") == F.col("v_user"),
        "c_ts", "v_ts", lookback_seconds=43200)
    q = (joined.writeStream.format("memory")
         .queryName("stream_ijoin_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_ijoin_sink").select(
        F.col("click_id").cast("long").alias("click_id"),
        F.col("view_id").cast("long").alias("view_id"),
        F.col("c_user").cast("long").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round(F.col("view_value").cast("double"), 6).alias("view_value"))


_STREAM_IJOIN_ORACLE = """
    SELECT CAST(c.event_id AS BIGINT) AS click_id,
           CAST(v.event_id AS BIGINT) AS view_id,
           CAST(c.user_id AS BIGINT) AS user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           round(CAST(v.value AS DOUBLE), 6) AS view_value
    FROM events c JOIN events v
      ON c.event_type = 'click' AND v.event_type = 'view'
     AND c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL 43200 SECONDS
     AND v.ts <= c.ts"""


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator for real: gap sessionization
    via applyInPandasWithState (streaming/sessionize.py), driven through
    Structured Streaming with availableNow. Emits sessions closed by a
    later event (in-data gap) plus sessions timed out under the final
    watermark — the batch oracle replays exactly that set with a
    lag-gap window query."""
    from agensgraph_spark.loader import normalize_event_ts
    from agensgraph_spark.streaming.sessionize import sessionize
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    stream = stream.withColumn(
        "ts", normalize_event_ts(raw_schema["ts"].dataType).cast("timestamp"))
    sess = sessionize(stream, gap_seconds=1800)
    q = (sess.writeStream.format("memory").queryName("stream_sess_sink")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table("stream_sess_sink").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("ss"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("se"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 6).alias("total_value"))


_SESSIONIZE_ORACLE = """
    WITH m AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    a AS (
      SELECT user_id, sid, min(ts) AS st, max(ts) AS en,
             count(*) AS n_events,
             round(SUM(CAST(value AS DOUBLE) ORDER BY ts), 6) AS total_value
      FROM s GROUP BY user_id, sid),
    wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT a.user_id AS user_id,
           strftime(st, '%Y-%m-%d %H:%M:%S') AS ss,
           strftime(en, '%Y-%m-%d %H:%M:%S') AS se,
           n_events, total_value
    FROM a, wm
    WHERE sid < (SELECT max(sid) FROM s WHERE s.user_id = a.user_id)
       OR epoch_ms(en) + 1800000 < epoch_ms(w)
"""


def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.brute_cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5,
                             dim=_emb_dim(emb, sf_dir))


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.ivf_cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5,
                             dim=_emb_dim(emb, sf_dir))


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks(emb, m=4, k=16)
    return S.pq_topk(emb, emb.orderBy("vec_id").limit(3), books, k=5)


# PQ / ADC replay: the oracle re-derives the codebooks (16 lowest-id
# vectors' subvectors), encodes every vector (argmin squared-L2 per
# subspace, ties to the lowest code), builds each query's subspace
# LUTs, and scores via explicitly s-ORDERED addition (a bare SUM()
# over the 4 terms would be order-nondeterministic in doubles).
_ANN_PQ_ORACLE = r"""
    WITH corp AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT CAST(len(v) // 4 AS INT) AS d FROM corp ORDER BY vec_id LIMIT 1),
    bk AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
        FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 16)),
    ss AS (SELECT unnest(range(4)) AS s),
    dists AS (
        SELECT c.vec_id, ss.s, bk.j,
               list_sum(list_transform(range(1, p.d + 1),
                   t -> (c.v[ss.s * p.d + t] - bk.v[ss.s * p.d + t])
                      * (c.v[ss.s * p.d + t] - bk.v[ss.s * p.d + t]))) AS dist
        FROM corp c, ss, bk, p),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, j) AS rn
            FROM dists) WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, v AS qv
           FROM corp ORDER BY vec_id LIMIT 3),
    lut AS (
        SELECT q.query_id, ss.s, bk.j,
               list_sum(list_transform(range(1, p.d + 1),
                   t -> (q.qv[ss.s * p.d + t] - bk.v[ss.s * p.d + t])
                      * (q.qv[ss.s * p.d + t] - bk.v[ss.s * p.d + t]))) AS dist
        FROM qs q, ss, bk, p),
    scores AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               max(CASE WHEN c.s = 0 THEN l.dist END)
             + max(CASE WHEN c.s = 1 THEN l.dist END)
             + max(CASE WHEN c.s = 2 THEN l.dist END)
             + max(CASE WHEN c.s = 3 THEN l.dist END) AS score
        FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id, round(score, 6) AS score,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score, neighbor_id) AS rn
          FROM scores WHERE neighbor_id != query_id)
    WHERE rn <= 5"""


def _q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    books = S.pq_codebooks(emb, m=4, k=16)
    return S.ivf_pq_topk(emb, emb.orderBy("vec_id").limit(3), books, k=5,
                         dim=_emb_dim(emb, sf_dir))


def _ivf_pq_oracle(dim: int = 64, n_lists: int = 16, n_probe: int = 4,
                   k: int = 5, seed: int = 42) -> str:
    """DuckDB replay of S.ivf_pq_topk: the _ivf_oracle centroid
    assignment/probing (same seeded literals, DESC/li-DESC ties)
    composed with the _ANN_PQ_ORACLE code/LUT replay — candidates are
    the probed lists' members only, scored by s-ORDERED ADC addition."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_lists, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
        WITH cents(li, cv) AS (VALUES {rows}),
        corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT CAST(len(v) // 4 AS INT) AS d FROM corp ORDER BY vec_id LIMIT 1),
        bk AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
            FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 16)),
        ss AS (SELECT unnest(range(4)) AS s),
        dists AS (
            SELECT c.vec_id, ss.s, bk.j,
                   list_sum(list_transform(range(1, p.d + 1),
                       t -> (c.v[ss.s * p.d + t] - bk.v[ss.s * p.d + t])
                          * (c.v[ss.s * p.d + t] - bk.v[ss.s * p.d + t]))) AS dist
            FROM corp c, ss, bk, p),
        codes AS (
            SELECT vec_id, s, j AS code FROM (
                SELECT vec_id, s, j,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dist, j) AS rn
                FROM dists) WHERE rn = 1),
        c_tag AS (
            SELECT vec_id AS neighbor_id, li AS _list FROM (
                SELECT c.vec_id, cents.li,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id
                           ORDER BY list_dot_product(c.v, cents.cv) DESC,
                                    cents.li DESC) AS rn
                FROM corp c CROSS JOIN cents) WHERE rn = 1),
        qs AS (SELECT vec_id AS query_id, v AS qv
               FROM corp ORDER BY vec_id LIMIT 3),
        q_tag AS (
            SELECT query_id, li AS _list FROM (
                SELECT q.query_id, cents.li,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                           ORDER BY list_dot_product(q.qv, cents.cv) DESC,
                                    cents.li DESC) AS rn
                FROM qs q CROSS JOIN cents) WHERE rn <= {n_probe}),
        lut AS (
            SELECT q.query_id, ss.s, bk.j,
                   list_sum(list_transform(range(1, p.d + 1),
                       t -> (q.qv[ss.s * p.d + t] - bk.v[ss.s * p.d + t])
                          * (q.qv[ss.s * p.d + t] - bk.v[ss.s * p.d + t]))) AS dist
            FROM qs q, ss, bk, p),
        cand AS (
            SELECT qt.query_id, ct.neighbor_id
            FROM c_tag ct JOIN q_tag qt USING (_list)
            WHERE ct.neighbor_id != qt.query_id),
        scores AS (
            SELECT ca.query_id, ca.neighbor_id,
                   max(CASE WHEN c.s = 0 THEN l.dist END)
                 + max(CASE WHEN c.s = 1 THEN l.dist END)
                 + max(CASE WHEN c.s = 2 THEN l.dist END)
                 + max(CASE WHEN c.s = 3 THEN l.dist END) AS score
            FROM cand ca
            JOIN codes c ON c.vec_id = ca.neighbor_id
            JOIN lut l ON l.query_id = ca.query_id
                      AND l.s = c.s AND l.j = c.code
            GROUP BY 1, 2)
        SELECT query_id, neighbor_id, round(score, 6) AS score,
               CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score, neighbor_id) AS rn
              FROM scores)
        WHERE rn <= {k}"""


def _lang_id_oracle() -> str:
    """DuckDB replay of TX.lang_id (pipeline/text.py): per-language
    stopword-hit counting via the same length/replace arithmetic, argmax
    with ties to the earliest language in LANG_MARKERS order (the Spark
    fold only swaps on strictly-greater, so the winner is the FIRST
    language attaining the maximum)."""
    scores = []
    for lang, words in TX.LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(t) - length(replace(t, ' {w} ', ''))) // {len(w) + 2}"
            for w in words)
        scores.append((lang, f"s_{lang}", f"CAST({terms} AS BIGINT) AS s_{lang}"))
    g = f"greatest({', '.join(c for _, c, _ in scores)})"
    first_max = " ".join(
        f"WHEN {col} = {g} THEN '{lang}'" for lang, col, _ in scores[:-1])
    return f"""
        WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
        sc AS (SELECT doc_id, {', '.join(e for _, _, e in scores)} FROM s)
        SELECT doc_id,
               CASE WHEN {g} > 0 THEN
                    CASE {first_max} ELSE '{scores[-1][0]}' END
               ELSE 'unk' END AS lang_pred,
               {g} AS lang_hits
        FROM sc"""


def _semdedup_oracle(dim: int = 64, n_lists: int = 16, tau: float = 0.2,
                     seed: int = 42) -> str:
    """DuckDB replay of the TRAINED dedup_semantic row: the SAME
    seeded init matrix, then ONE Lloyd round exactly as
    S.train_ivf_centroids(rounds=1) computes it — cosine-argmax
    assignment (tie -> higher index, the score-DESC/index-DESC rule of
    the engine's one tagger, S._centroid_tag_arrow), per-cluster
    element-wise mean,
    empty clusters keep their init centroid — then S.semantic_dedup's
    nearest-centroid tag, within-cluster max cosine to any lower id,
    and the keep-lowest-id SemDeDup rule. The engine tags by raw dot
    against UNIT-NORMALIZED trained centroids; the oracle's cosine
    against the raw per-cluster means has the same per-row argmax
    (both scalings are positive per-row / per-cluster constants)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_lists, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
        WITH cents0(li, cv) AS (VALUES {rows}),
        corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        asg AS (
          SELECT vec_id, li FROM (
            SELECT c.vec_id, cents0.li,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, cents0.cv) DESC, cents0.li DESC) AS rn
            FROM corpus c CROSS JOIN cents0) WHERE rn = 1),
        upd AS (
          SELECT li, list(m ORDER BY pos) AS cv FROM (
            SELECT a.li, g.i AS pos, round(avg(c.v[g.i]), 9) AS m
            FROM asg a JOIN corpus c USING (vec_id),
                 LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) g
            GROUP BY a.li, g.i)
          GROUP BY li),
        cents(li, cv) AS (
          SELECT c0.li, COALESCE(u.cv, c0.cv)
          FROM cents0 c0 LEFT JOIN upd u ON u.li = c0.li),
        tag AS (
          SELECT vec_id, li AS cluster FROM (
            SELECT c.vec_id, cents.li,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.li DESC) AS rn
            FROM corpus c CROSS JOIN cents) WHERE rn = 1),
        low AS (
          SELECT a.vec_id, max(list_cosine_similarity(av.v, bv.v)) AS mlc
          FROM tag a JOIN tag b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
          JOIN corpus av ON av.vec_id = a.vec_id
          JOIN corpus bv ON bv.vec_id = b.vec_id
          GROUP BY a.vec_id)
        SELECT t.vec_id, CAST(t.cluster AS BIGINT) AS cluster,
               ROUND(low.mlc, 6) AS max_lower_cos,
               COALESCE(low.mlc < {tau}, TRUE) AS keep,
               -- the engine's capped flag fires only for within-cluster
               -- rank > max_cluster + 1; tests/test_pipeline_scale.py::
               -- test_semdedup_oracle_corpora_never_hit_cap pins
               -- n_over_cap == 0 for every oracle-replayed corpus, so
               -- the unmodeled cap cannot bite parity silently
               FALSE AS capped
        FROM tag t LEFT JOIN low USING (vec_id)"""


_LM_PERPLEXITY_ORACLE = r"""
    WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id,
                      CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                      END AS a
               FROM documents),
    b AS (SELECT id, a[i] AS w1, a[i + 1] AS w2
          FROM d, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) g
          WHERE len(a) >= 2),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
    v AS (SELECT count(DISTINCT t) AS vv
          FROM (SELECT unnest(a) AS t FROM d)),
    nll AS (SELECT b.id, -ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vv)) AS nll
            FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
    agg AS (SELECT id, count(*) AS n_bigrams, avg(nll) AS avg_nll
            FROM nll GROUP BY id)
    SELECT d.id AS doc_id,
           COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           ROUND(agg.avg_nll, 6) AS avg_nll,
           ROUND(EXP(agg.avg_nll), 4) AS perplexity
    FROM d LEFT JOIN agg ON agg.id = d.id"""


_ANN_BRUTE_ORACLE = """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
             c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
             scored AS (
               SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos_sim
               FROM q JOIN c ON query_id <> neighbor_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos_sim,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
        FROM ranked WHERE rank <= 5"""


def _bm25_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyword queries derived from the corpus itself:
    the first 6 whitespace tokens of documents 0..7 — same derivation
    rule the ANN rows use (query vectors are corpus vectors), so the
    row needs no external query fixture."""
    docs = read_table(spark, sf_dir, "documents")
    return (docs.filter(F.col("doc_id") < 8)
            .select(F.col("doc_id").alias("query_id"),
                    F.concat_ws(
                        " ",
                        F.slice(F.split(F.trim(F.lower(F.col("text"))),
                                        r"\s+"), 1, 6)).alias("query_text")))


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword top-5 — the lexical retrieval row (exact-term
    serving path next to the ANN family's semantic one). The inverted-
    index join shape means only posting lists of queried terms are ever
    scored; see pipeline/retrieval.py for the scale contract."""
    # spread_scan (§2, r15): the corpus tokenize/explode branches (tf,
    # dl) otherwise run on the ONE non-empty split the local layout
    # plans; identical spread subtrees dedupe into one ReusedExchange.
    # No-op at the many-file production layout.
    docs = spread_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    return RT.bm25_topk(docs, _bm25_queries(spark, sf_dir), k=5)


_BM25_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id AS _doc,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
    tf AS (SELECT _doc, token, count(*) AS _tf FROM toks
           WHERE token <> '' GROUP BY _doc, token),
    dl AS (SELECT _doc, count(*) AS _dl FROM toks
           WHERE token <> '' GROUP BY _doc),
    stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS _n,
                     (SELECT avg(_dl) FROM dl) AS _avgdl),
    dfreq AS (SELECT token, count(*) AS _df FROM tf GROUP BY token),
    q AS (SELECT DISTINCT doc_id AS _q,
                 unnest(list_slice(regexp_split_to_array(trim(lower(text)),
                                                         '\s+'), 1, 6)) AS token
          FROM documents WHERE doc_id < 8),
    contrib AS (
        SELECT q._q, tf._doc,
               ln(1.0 + (_n - _df + 0.5) / (_df + 0.5))
                 * _tf * 2.2
                 / (_tf + 1.2 * (0.25 + 0.75 * _dl / _avgdl)) AS _c
        FROM tf JOIN q USING (token) JOIN dfreq USING (token)
        JOIN dl USING (_doc) CROSS JOIN stats),
    scored AS (SELECT _q, _doc, round(sum(_c), 6) AS score
               FROM contrib GROUP BY _q, _doc),
    ranked AS (
        SELECT _q, _doc, score,
               CAST(row_number() OVER (PARTITION BY _q
                    ORDER BY score DESC, _doc ASC) AS BIGINT) AS rank
        FROM scored)
    SELECT _q AS query_id, _doc AS doc_id, score, rank
    FROM ranked WHERE rank <= 5"""


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the exact cosine ranking for the same 8 corpus-derived
    queries (doc_id == vec_id aligns the two modalities) — the serving
    pattern production search stacks run, expressed as two k-bounded
    rank frames and one fusion aggregate."""
    # same spread as _q_bm25_topk — the lexical leg tokenizes the
    # whole corpus and otherwise runs on one split locally
    docs = spread_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    emb = read_table(spark, sf_dir, "embeddings")
    lex = RT.bm25_topk(docs, _bm25_queries(spark, sf_dir), k=5)
    sem = (S.brute_cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
           .select("query_id", F.col("neighbor_id").alias("doc_id"), "rank"))
    return RT.rrf_fuse([lex, sem], k=5)


_HYBRID_RRF_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id AS _doc,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents),
    tf AS (SELECT _doc, token, count(*) AS _tf FROM toks
           WHERE token <> '' GROUP BY _doc, token),
    dl AS (SELECT _doc, count(*) AS _dl FROM toks
           WHERE token <> '' GROUP BY _doc),
    stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS _n,
                     (SELECT avg(_dl) FROM dl) AS _avgdl),
    dfreq AS (SELECT token, count(*) AS _df FROM tf GROUP BY token),
    q AS (SELECT DISTINCT doc_id AS _q,
                 unnest(list_slice(regexp_split_to_array(trim(lower(text)),
                                                         '\s+'), 1, 6)) AS token
          FROM documents WHERE doc_id < 8),
    contrib AS (
        SELECT q._q, tf._doc,
               ln(1.0 + (_n - _df + 0.5) / (_df + 0.5))
                 * _tf * 2.2
                 / (_tf + 1.2 * (0.25 + 0.75 * _dl / _avgdl)) AS _c
        FROM tf JOIN q USING (token) JOIN dfreq USING (token)
        JOIN dl USING (_doc) CROSS JOIN stats),
    bscored AS (SELECT _q, _doc, round(sum(_c), 6) AS score
                FROM contrib GROUP BY _q, _doc),
    lex AS (
        SELECT _q AS query_id, _doc AS doc_id,
               CAST(row_number() OVER (PARTITION BY _q
                    ORDER BY score DESC, _doc ASC) AS BIGINT) AS rank
        FROM bscored QUALIFY rank <= 5),
    qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 8),
    cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    sem AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY list_cosine_similarity(qv.v, cv.v) DESC,
                             doc_id ASC) AS BIGINT) AS rank
        FROM qv JOIN cv ON query_id <> doc_id QUALIFY rank <= 5),
    unioned AS (
        SELECT query_id, doc_id, rank FROM lex
        UNION ALL SELECT query_id, doc_id, rank FROM sem),
    fused AS (
        SELECT query_id, doc_id,
               round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
        FROM unioned GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, rrf_score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
    FROM fused QUALIFY rank <= 5"""


def _filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared metadata pre-filter of the filtered-ANN rows: keep
    vectors whose source document is English, via a semi-join against
    the metadata table — BEFORE any scoring, never post-filtering an
    unfiltered top-k (which would under-fill k)."""
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents")
    allowed = docs.filter(F.col("lang") == "en") \
        .select(F.col("doc_id").alias("vec_id"))
    return emb.join(allowed, "vec_id", "left_semi")


def _q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN serving, exact-semantics baseline — top-5
    among vectors whose source document is English: the predicate
    prunes the corpus BEFORE the scoring join. Scoring here is the
    exact brute pass (the ground truth the approximate path is
    measured against); the 100 TB serving path is ann_filtered_ivf,
    which composes the same pre-filter with IVF list probing so
    per-query cost stays index-bounded."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = _filtered_corpus(spark, sf_dir)
    return S.brute_cosine_topk(corpus, emb.filter(F.col("vec_id") < 20), k=5)


# the EXISTS predicate the filtered-ANN oracles share, phrased over
# the _ivf_oracle corpus alias
_FILTERED_WHERE = """WHERE EXISTS (SELECT 1 FROM documents d
                                 WHERE d.doc_id = allv.vec_id AND d.lang = 'en')"""


def _q_ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN, the 100 TB SERVING shape: the predicate
    semi-join prunes the corpus first, then IVF probing bounds each
    query's scored candidates to its n_probe inverted lists — the
    filter composes with the index instead of forcing a brute scan of
    the filtered corpus (a |filtered|x|queries| pair join). Assignment
    (the centroid tag) is a narrow map-only pass persistable with the
    snapshot, so at scale the filter + probe touches n_probe/n_lists
    of the filtered corpus per query and nothing else."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = _filtered_corpus(spark, sf_dir)
    return S.ivf_cosine_topk(corpus, emb.filter(F.col("vec_id") < 20), k=5,
                             dim=_emb_dim(emb, sf_dir))


def _q_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 UNDER THE FILTER — the eval every filtered-ANN
    deployment runs: brute-force truth over the filtered corpus vs the
    IVF-composed filtered path, intersected per query. Both sides are
    bounded by the query set; the corpus is scanned once per side."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = _filtered_corpus(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < 20)
    truth = S.brute_cosine_topk(corpus, qs, k=5).select(
        "query_id", "neighbor_id")
    approx = S.ivf_cosine_topk(corpus, qs, k=5,
                               dim=_emb_dim(emb, sf_dir)) \
        .select("query_id", "neighbor_id")
    hits = (truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (qs.select(F.col("vec_id").alias("query_id"))
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(5.0), 6)
                    .alias("recall_at_5")))


def _ann_filtered_recall_oracle() -> str:
    """Composes the two filtered replays: exact truth over the
    filtered corpus vs the filter+IVF probe, intersected per query."""
    return f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({_ANN_FILTERED_ORACLE})),
    approx AS (SELECT query_id, neighbor_id
               FROM ({_ivf_oracle(corpus_where=_FILTERED_WHERE)})),
    hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM truth t JOIN approx a USING (query_id, neighbor_id)
             GROUP BY t.query_id),
    qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
           WHERE vec_id < 20)
    SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_5
    FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id"""


_ANN_FILTERED_ORACLE = """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
             c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings e
                   WHERE EXISTS (SELECT 1 FROM documents d
                                 WHERE d.doc_id = e.vec_id AND d.lang = 'en')),
             scored AS (
               SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos_sim
               FROM q JOIN c ON query_id <> neighbor_id),
             ranked AS (
               SELECT query_id, neighbor_id, cos_sim,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
        FROM ranked WHERE rank <= 5"""


def _q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against brute-force ground truth —
    the evaluation every ANN deployment runs before trusting the
    approximate path. Pure composition of the two verified operators;
    both sides are bounded by the query set, so the eval costs two
    index probes, not an extra corpus scan."""
    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    truth = S.brute_cosine_topk(emb, qs, k=5).select(
        "query_id", "neighbor_id")
    approx = S.ivf_cosine_topk(emb, qs, k=5, dim=_emb_dim(emb, sf_dir)) \
        .select("query_id", "neighbor_id")
    hits = (truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (qs.select(F.col("vec_id").alias("query_id"))
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(5.0), 6)
                    .alias("recall_at_5")))


def _ivf_recall_oracle() -> str:
    """Composes the two already-verified replays: brute-force truth
    vs IVF probe results, intersected per query."""
    return f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({_ANN_BRUTE_ORACLE})),
    approx AS (SELECT query_id, neighbor_id FROM ({_ivf_oracle()})),
    hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM truth t JOIN approx a USING (query_id, neighbor_id)
             GROUP BY t.query_id),
    qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
           WHERE vec_id < 20)
    SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_5
    FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id"""


def _ivf_oracle(dim: int = 64, n_lists: int = 16, n_probe: int = 4,
                k: int = 5, seed: int = 42, corpus_where: str = "") -> str:
    """DuckDB replay of S.ivf_cosine_topk: the SAME seeded centroid
    matrix (numpy default_rng(42), unit-normalized) embedded as a
    VALUES literal; nearest-centroid assignment / n_probe probing via
    list_dot_product (dividing by the per-row norm cannot change a
    per-row argmax), exact cosine re-rank via list_cosine_similarity.
    Tie order mirrors the engine's tagger (S._centroid_tag_arrow): score
    DESC then index DESC. dim=64 is the testdata embedding width at
    every SF (TESTDATA.md); a width change would fail the gate loudly.

    ``corpus_where`` (a full ``WHERE ...`` clause over alias ``allv``)
    restricts the INDEXED corpus only — queries always come from the
    unfiltered table, mirroring filtered vector search where the
    predicate prunes candidates, not askers."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_lists, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
        WITH cents(li, cv) AS (VALUES {rows}),
        allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        corpus AS (SELECT vec_id, v FROM allv {corpus_where}),
        c_tag AS (
          SELECT vec_id AS neighbor_id, li AS _list FROM (
            SELECT c.vec_id, cents.li,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY list_dot_product(c.v, cents.cv) DESC, cents.li DESC) AS rn
            FROM corpus c CROSS JOIN cents) WHERE rn = 1),
        q_tag AS (
          SELECT vec_id AS query_id, li AS _list FROM (
            SELECT q.vec_id, cents.li,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.v, cents.cv) DESC, cents.li DESC) AS rn
            FROM allv q CROSS JOIN cents WHERE q.vec_id < 20) WHERE rn <= {n_probe}),
        scored AS (
          SELECT q.query_id, c.neighbor_id,
                 list_cosine_similarity(qv.v, cv.v) AS cos_sim
          FROM c_tag c JOIN q_tag q USING (_list)
          JOIN allv qv ON qv.vec_id = q.query_id
          JOIN corpus cv ON cv.vec_id = c.neighbor_id
          WHERE q.query_id <> c.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
        FROM ranked WHERE rank <= {k}"""


def _lsh_oracle(dim: int = 64, n_planes: int = 12, n_tables: int = 4,
                k: int = 5) -> str:
    """DuckDB replay of S.lsh_cosine_topk: the SAME seeded hyperplane
    matrices (numpy default_rng(42+t) per table) embedded as VALUES
    literals; signatures are the packed sign bits of the plane dots
    (sign flips from float-order differences need |dot| < 1e-12 —
    negligible for random planes), candidates share a full (table,
    signature) pair, exact cosine re-ranks. dim=64 is the testdata
    embedding width at every SF."""
    import numpy as np
    rows = []
    for t in range(n_tables):
        rng = np.random.default_rng(42 + t)
        pm = rng.standard_normal((n_planes, dim))
        for j in range(n_planes):
            rows.append(
                f"({t}, {2 ** j}, "
                f"[{', '.join(repr(float(x)) for x in pm[j])}]::DOUBLE[])")
    values = ",\n               ".join(rows)
    return f"""
        WITH planes(t, w, pv) AS (VALUES {values}),
        corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sigs AS (
          SELECT c.vec_id, p.t,
                 SUM(CASE WHEN list_dot_product(c.v, p.pv) > 0 THEN p.w ELSE 0 END) AS sig
          FROM corpus c CROSS JOIN planes p GROUP BY c.vec_id, p.t),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM (SELECT * FROM sigs WHERE vec_id < 20) q
          JOIN sigs c ON q.t = c.t AND q.sig = c.sig
          WHERE q.vec_id <> c.vec_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_cosine_similarity(qv.v, cv.v) AS cos_sim
          FROM cand JOIN corpus qv ON qv.vec_id = cand.query_id
                    JOIN corpus cv ON cv.vec_id = cand.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
        FROM ranked WHERE rank <= {k}"""


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line/boilerplate dedup (text.line_dedup): the
    driver's documents have no line structure, so both engines first
    wrap each doc into 6-token lines with the SAME deterministic
    expression; a line appearing in >= 3 distinct docs is boilerplate.
    text_clean is compared through md5 to keep the row narrow while
    staying value-exact."""
    docs = read_table(spark, sf_dir, "documents")
    ml = docs.selectExpr(
        "doc_id",
        "array_join(transform("
        "sequence(0, CAST(ceil(size(split(text, ' ')) / 6.0) AS INT) - 1), "
        "i -> array_join(slice(split(text, ' '), i*6+1, 6), ' ')), '\\n')"
        " AS text")
    out = TX.line_dedup(ml, min_docs=3)
    return out.select("doc_id", "n_lines", "n_kept",
                      F.md5(F.col("text_clean")).alias("clean_md5"))


def _q_similar_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: SIMILAR TO via the similar_escape translation
    (reference regexp.c:similar_escape_internal) — anchored rlike,
    plus the three-argument SUBSTRING(str SIMILAR pat ESCAPE e)."""
    from agensgraph_spark import sqlfuncs as SQLF
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", "p_name",
        SQLF.similar_to(F.col("p_name"), "(cold|blue) [a-z]+").alias("is_cb"),
        SQLF.similar_to(F.col("p_name"), "bl_e%").alias("is_ble"),
        SQLF.substring_similar(
            F.col("p_name"), '%#"[a-z]+#"', escape="#").alias("last_word"),
    ).filter(SQLF.similar_to(F.col("p_name"), "%(widget|rod)"))


def _q_regexp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: regexp_match first-match group array (reference
    regexp.c:regexp_match), observed through its elements."""
    from agensgraph_spark import sqlfuncs as SQLF
    part = read_table(spark, sf_dir, "part")
    m = SQLF.regexp_match(F.col("p_name"), r"^(\w+) (\w+)$")
    return part.select(
        "p_partkey",
        m.isNotNull().alias("matched"),
        F.element_at(m, 1).alias("g1"),
        F.element_at(m, 2).alias("g2"),
    )


def _q_to_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: PostgreSQL formatting shims (reference
    formatting.c:DCH_to_char, timestamp.c:timestamp_age,
    date.c:make_date) — to_char template translation incl. FM fill
    mode, quoted literals, 12-hour clock and week numbers; symbolic
    age() fields; make_date. All pure JVM column expressions."""
    from agensgraph_spark import sqlfuncs as SQLF
    # spread_scan: six template renders x 100k rows of pure formatting
    # CPU on the ONE task a single-file scan plans (r14 A/B; no-op at
    # scale — see loader.spread_scan)
    ev = spread_scan(read_table(spark, sf_dir, "events"), "event_id")
    ref = F.lit("1997-06-15").cast("timestamp")
    day = F.date_trunc("day", F.col("ts"))
    ap = SQLF.age_parts(day, ref)
    return ev.select(
        "event_id",
        SQLF.to_char("ts", "YYYY-MM-DD HH24:MI:SS").alias("iso"),
        SQLF.to_char("ts", 'FMDay, DD "of" FMMonth YYYY').alias("verbose"),
        SQLF.to_char("ts", "Mon DD, YYYY (Dy) Q/WW/IW").alias("pretty"),
        SQLF.to_char("ts", "HH12:MI am").alias("clock12"),
        # r12: session-tz tokens (TZ/OF) and Y,YYY digit grouping —
        # formatting.c DCH_TZ/DCH_OF/DCH_Y_YYY
        SQLF.to_char("ts", 'Y,YYY "AD" TZ OF').alias("grouped_tz"),
        # r12 long tail: century, Julian day, seconds past midnight,
        # Roman month, ISO year, week-of-month, era
        SQLF.to_char("ts", 'CC J SSSS RM IYYY "w"W AD').alias("longtail"),
        ap.getField("years").alias("age_y"),
        ap.getField("months").alias("age_m"),
        ap.getField("days").alias("age_d"),
        SQLF.make_date(F.year("ts"), F.month("ts"), F.lit(1))
            .cast("string").alias("month_start"),
    )


def _q_semdedup_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-skew audit semantic_dedup's cap depends on
    (similarity.semdedup_skew_stats): cluster-size distribution of the
    seeded default quantizer + over-cap count + sum_sq_sizes (the
    quadratic pair-join cost driver)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return S.semdedup_skew_stats(emb, dim=_emb_dim(emb, sf_dir))


def _semdedup_skew_oracle(dim: int = 64, n_lists: int = 16,
                          seed: int = 42, max_cluster: int = 10_000) -> str:
    """DuckDB replay of semdedup_skew_stats: the same seeded centroid
    tag as _semdedup_oracle's untrained quantizer, then the size
    aggregate."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_lists, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n               ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
        WITH cents(li, cv) AS (VALUES {rows}),
        corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        tag AS (
          SELECT vec_id, li AS cluster FROM (
            SELECT c.vec_id, cents.li,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY list_dot_product(c.v, cents.cv) DESC, cents.li DESC) AS rn
            FROM corpus c CROSS JOIN cents) WHERE rn = 1),
        sizes AS (SELECT cluster, count(*) AS n FROM tag GROUP BY cluster)
        SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairable,
               CAST(sum(CASE WHEN n > {max_cluster} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
               CAST(max(n) AS BIGINT) AS max_cluster_size,
               CAST(sum(n * n) AS BIGINT) AS sum_sq_sizes
        FROM sizes"""


def _q_to_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: PG input templates (to_date/to_timestamp with a
    template, reference formatting.c:do_to_timestamp) — round-trips
    to_char output through the parse shim, incl. month names and the
    12-hour clock."""
    from agensgraph_spark import sqlfuncs as SQLF
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        SQLF.to_date(SQLF.to_char("ts", "DD Mon YYYY"), "DD Mon YYYY")
            .cast("string").alias("d1"),
        SQLF.to_timestamp(
            SQLF.to_char("ts", "YYYY-MM-DD HH12:MI:SS AM"),
            "YYYY-MM-DD HH12:MI:SS AM").cast("string").alias("t1"),
        # r12 lax path: NON-PADDED digit fields (FM-rendered) parse
        # back under try_to_timestamp the way PG's do_to_timestamp
        # tolerates; the strict shim would raise on these
        SQLF.try_to_timestamp(
            SQLF.to_char("ts", "FMYYYY-FMMM-FMDD FMHH24:FMMI:FMSS"),
            "YYYY-MM-DD HH24:MI:SS").cast("string").alias("t_lax"),
        # malformed input -> NULL (not an ANSI error)
        SQLF.try_to_date(F.lit("not a date"), "YYYY-MM-DD")
            .cast("string").alias("d_null"),
        # r13 name-token pre-pass: Day on INPUT (Spark bans 'E' in
        # parse patterns; the shim strips the valid day name and PG
        # likewise never uses it for a Gregorian date) and dotted
        # meridiem — both round-trip to_char output
        SQLF.to_date(SQLF.to_char("ts", "FMDay, DD FMMonth YYYY"),
                     "Day, DD Month YYYY").cast("string").alias("d_dayname"),
        SQLF.to_timestamp(
            SQLF.to_char("ts", "YYYY-MM-DD HH12:MI:SS A.M."),
            "YYYY-MM-DD HH12:MI:SS A.M.").cast("string").alias("t_meridiem"),
        # r14 arithmetic input tokens (no Spark parse letter needed —
        # integer math to (date, time), formatting.c:4550-4643):
        # Julian day round-trip, seconds-past-midnight composed with a
        # date, century+2-digit-year recombination
        SQLF.to_date(SQLF.to_char("ts", "J"), "J")
            .cast("string").alias("d_julian"),
        SQLF.to_timestamp(SQLF.to_char("ts", "YYYY-MM-DD SSSS"),
                          "YYYY-MM-DD SSSS").cast("string").alias("t_ssss"),
        SQLF.to_date(SQLF.to_char("ts", "CC YY"), "CC YY")
            .cast("string").alias("d_century"),
        # r14 zone-offset input: TZH:TZM round-trips the rendered
        # session offset (+00:00 under the pinned-UTC session) — the
        # only zone tokens PG parses on input (formatting.c:3513-3544;
        # TZ/tz/OF input raise in PG itself)
        SQLF.to_timestamp(
            SQLF.to_char("ts", "YYYY-MM-DD HH24:MI:SS TZH:TZM"),
            "YYYY-MM-DD HH24:MI:SS TZH:TZM")
            .cast("string").alias("t_tzhm"),
    )


def _q_to_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: PG to_number (formatting.c:numeric_to_number) —
    parses to_char_number output (group separators, floating sign,
    trailing MI) back to decimals."""
    from agensgraph_spark import sqlfuncs as SQLF
    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,3)")
    return ev.select(
        "event_id",
        SQLF.to_number(SQLF.to_char_number(v * 12345, "9G999G999D99"),
                       "9G999G999D99").alias("parsed_g"),
        SQLF.to_number(SQLF.to_char_number(v - 50, "S0999D999"),
                       "S0999D999").alias("parsed_s"),
        SQLF.to_number(SQLF.to_char_number(F.lit(50) - v, "999D9MI"),
                       "999D9MI").alias("parsed_mi"),
    )


def _q_to_char_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface: PostgreSQL numeric to_char digit pictures
    (reference formatting.c:NUM_processor; behavior pinned against
    src/test/regress/expected/numeric.out) — group separators,
    zero-fill, S sign, trailing MI, FM trimming, and the '#'
    overflow fill, over the events value column."""
    from agensgraph_spark import sqlfuncs as SQLF
    # spread_scan: five digit-picture renders x 100k rows — the
    # heaviest formatting map in the repo — starved by the single-split
    # scan (r14 A/B: 1.93 -> 0.72s; no-op at scale)
    ev = spread_scan(read_table(spark, sf_dir, "events"), "event_id")
    # decimal-FIRST: the 3-decimal value column recovers exactly into
    # decimal(38,3) in both engines, and every later rescale then
    # rounds identical decimal digits (half-away both sides). Feeding
    # raw doubles instead makes the final rounding depend on how each
    # engine converts binary doubles at .xx5 boundaries (Spark rounds
    # the binary value, DuckDB the shortest decimal repr — observed
    # off-by-0.1 on 1.7% of rows). decimal(18,3), not (38,3): the
    # x12345 product must stay within precision 38 so Spark performs
    # the multiply EXACTLY at scale 3 — a precision-overflow product
    # would be rounded at an engine-chosen scale instead
    v = F.col("value").cast("decimal(18,3)")
    return ev.select(
        "event_id",
        SQLF.to_char_number(v * 12345, "9G999G999D99").alias("grouped"),
        SQLF.to_char_number(v - 50, "S0999D999").alias("signed"),
        SQLF.to_char_number(F.lit(50) - v, "999D9MI").alias("mi"),
        SQLF.to_char_number(v * 100, "999D9").alias("ovf"),
        SQLF.to_char_number(v, "FM990D099").alias("fmz"),
    )


PIPELINE_QUERIES: dict[str, tuple[Callable, str | None]] = {
    # CCNet-style corpus boilerplate removal: full-pipeline DuckDB
    # replay (line wrap -> trim -> doc-frequency -> anti-join ->
    # ordered re-assembly -> md5 of the cleaned text)
    "text_line_dedup": (_q_line_dedup, r"""
        WITH parts AS (
          SELECT doc_id, string_split(text, ' ') AS p FROM documents),
        ml AS (
          SELECT doc_id,
                 array_to_string(
                   list_transform(range(0, CAST(ceil(len(p) / 6.0) AS INT)),
                                  i -> array_to_string(p[i*6+1 : i*6+6], ' ')),
                   chr(10)) AS text
          FROM parts),
        lines AS (
          SELECT doc_id, u.pos AS pos, u.line AS line FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, chr(10)),
                                         (x, i) -> {'pos': i, 'line': trim(x)})) AS u
            FROM ml)),
        freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line),
        boiler AS (SELECT line FROM freq WHERE df >= 3),
        kept AS (SELECT l.* FROM lines l ANTI JOIN boiler b ON l.line = b.line),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(line, chr(10) ORDER BY pos) AS text_clean
          FROM kept GROUP BY doc_id),
        totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
        SELECT t.doc_id, t.n_lines, coalesce(r.n_kept, 0) AS n_kept,
               md5(coalesce(r.text_clean, '')) AS clean_md5
        FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id"""),
    # SQL scalar surface the SQL_QUERIES block can't carry (Spark SQL
    # has no SIMILAR TO / regexp_match); oracles pin the translated
    # regexes against DuckDB's regex engine
    "sql_similar_to": (_q_similar_to, """
        SELECT p_partkey, p_name,
               regexp_matches(p_name, '^(?:(?:cold|blue) [a-z]+)$') AS is_cb,
               regexp_matches(p_name, '^(?:bl.e.*)$') AS is_ble,
               regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
        FROM part
        WHERE regexp_matches(p_name, '^(?:.*(?:widget|rod))$')"""),
    "sql_regexp_match": (_q_regexp_match, r"""
        SELECT p_partkey,
               regexp_matches(p_name, '^(\w+) (\w+)$') AS matched,
               CASE WHEN regexp_matches(p_name, '^(\w+) (\w+)$')
                    THEN regexp_extract(p_name, '^(\w+) (\w+)$', 1) END AS g1,
               CASE WHEN regexp_matches(p_name, '^(\w+) (\w+)$')
                    THEN regexp_extract(p_name, '^(\w+) (\w+)$', 2) END AS g2
        FROM part"""),
    # PG formatting shims: to_char replayed via strftime, age via the
    # PG field-borrow algorithm spelled out in CASE stages (DuckDB's
    # own age() returns a flat day count, not PG's symbolic fields)
    "sql_to_char": (_q_to_char, r"""
        WITH base AS (
          SELECT event_id, ts,
                 date_trunc('day', ts) AS a,
                 TIMESTAMP '1997-06-15' AS b
          FROM events),
        s AS (
          SELECT *, CASE WHEN a < b THEN -1 ELSE 1 END AS sgn,
                 CASE WHEN a < b THEN b ELSE a END AS hi,
                 CASE WHEN a < b THEN a ELSE b END AS lo
          FROM base),
        d AS (
          SELECT *,
                 date_part('day', hi) - date_part('day', lo) AS dd0,
                 date_part('month', hi) - date_part('month', lo) AS mm0,
                 date_part('year', hi) - date_part('year', lo) AS yy0,
                 date_part('day', last_day(lo)) AS dim_lo
          FROM s),
        f AS (
          SELECT *, CASE WHEN dd0 < 0 THEN mm0 - 1 ELSE mm0 END AS mm1,
                 CASE WHEN dd0 < 0 THEN dd0 + dim_lo ELSE dd0 END AS dd1
          FROM d),
        g AS (
          SELECT *, CASE WHEN mm1 < 0 THEN yy0 - 1 ELSE yy0 END AS yy2,
                 CASE WHEN mm1 < 0 THEN mm1 + 12 ELSE mm1 END AS mm2
          FROM f)
        SELECT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso,
               strftime(ts, '%A, %d of %B %Y') AS verbose,
               strftime(ts, '%b %d, %Y (%a) ')
                 || CAST(quarter(ts) AS VARCHAR) || '/'
                 || lpad(CAST((dayofyear(ts) - 1) // 7 + 1 AS VARCHAR), 2, '0') || '/'
                 || lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0') AS pretty,
               strftime(ts, '%I:%M ') || lower(strftime(ts, '%p')) AS clock12,
               -- TZ/OF render the SESSION zone, pinned UTC (session.py);
               -- the zone text is therefore a constant on the oracle side
               CAST(date_part('year', ts) // 1000 AS VARCHAR) || ','
                 || lpad(CAST(date_part('year', ts) % 1000 AS VARCHAR), 3, '0')
                 || ' AD UTC +00' AS grouped_tz,
               lpad(CAST((date_part('year', ts) + 99) // 100 AS VARCHAR), 2, '0')
                 || ' ' || CAST(datediff('day', DATE '1970-01-01',
                                         CAST(ts AS DATE)) + 2440588 AS VARCHAR)
                 -- floor, not CAST: the decimal cast rounds the
                 -- fractional second up while SSSS truncates
                 || ' ' || CAST(CAST(floor(epoch(ts) -
                                           epoch(date_trunc('day', ts)))
                                     AS BIGINT) AS VARCHAR)
                 || ' ' || rpad(['I','II','III','IV','V','VI','VII','VIII',
                                 'IX','X','XI','XII'][CAST(month(ts) AS INT)], 4, ' ')
                 || ' ' || lpad(CAST(isoyear(ts) AS VARCHAR), 4, '0')
                 || ' w' || CAST((date_part('day', ts) - 1) // 7 + 1 AS VARCHAR)
                 || ' AD' AS longtail,
               CAST(sgn * yy2 AS INTEGER) AS age_y,
               CAST(sgn * mm2 AS INTEGER) AS age_m,
               CAST(sgn * dd1 AS INTEGER) AS age_d,
               CAST(make_date(CAST(date_part('year', ts) AS INTEGER),
                              CAST(date_part('month', ts) AS INTEGER), 1)
                    AS VARCHAR) AS month_start
        FROM g"""),
    # to_number round-trips to_char_number output: the oracle is the
    # original (decimal-exact) value at the picture's scale
    "sql_to_number": (_q_to_number, """
        WITH dec AS (
          SELECT event_id, CAST(value AS DECIMAL(18,3)) AS v FROM events)
        SELECT event_id,
               CAST(round(v * 12345, 2) AS DECIMAL(38,2)) AS parsed_g,
               CAST(v - 50 AS DECIMAL(38,3)) AS parsed_s,
               CAST(round(50 - v, 1) AS DECIMAL(38,1)) AS parsed_mi
        FROM dec"""),
    "sql_to_date_parse": (_q_to_date_parse, """
        SELECT event_id,
               CAST(CAST(strptime(strftime(ts, '%d %b %Y'), '%d %b %Y')
                    AS DATE) AS VARCHAR) AS d1,
               CAST(CAST(strptime(strftime(ts, '%Y-%m-%d %I:%M:%S %p'),
                                  '%Y-%m-%d %I:%M:%S %p')
                    AS TIMESTAMP) AS VARCHAR) AS t1,
               -- lax round-trip recovers the second-truncated ts
               CAST(date_trunc('second', ts) AS VARCHAR) AS t_lax,
               CAST(NULL AS VARCHAR) AS d_null,
               -- day-name / dotted-meridiem round trips recover the
               -- date and the second-truncated ts respectively
               CAST(CAST(ts AS DATE) AS VARCHAR) AS d_dayname,
               CAST(date_trunc('second', ts) AS VARCHAR) AS t_meridiem,
               -- J / SSSS / CC YY round-trips: Julian day and
               -- century+YY recover the date (CC YY maps the year to
               -- Jan 1), SSSS recovers the second-truncated ts
               CAST(CAST(ts AS DATE) AS VARCHAR) AS d_julian,
               CAST(date_trunc('second', ts) AS VARCHAR) AS t_ssss,
               CAST(CAST(date_trunc('year', ts) AS DATE) AS VARCHAR)
                 AS d_century,
               -- TZH:TZM round-trip recovers the second-truncated ts
               -- (the rendered offset is +00:00 under the UTC session)
               CAST(date_trunc('second', ts) AS VARCHAR) AS t_tzhm
        FROM events"""),
    # numeric to_char replayed with string assembly (decimal casts
    # round half-away in both engines; format('{:,}') supplies the
    # 3-digit grouping; the blank-zero-integer and '#' overflow rules
    # spelled out as CASEs)
    "sql_to_char_num": (_q_to_char_num, r"""
        WITH dec AS (
          SELECT event_id, CAST(value AS DECIMAL(18,3)) AS v FROM events),
        -- DuckDB's decimal downscale cast TRUNCATES; round() rounds
        -- half away like PG numeric / Spark's decimal cast, so every
        -- rescale goes through round() first
        base AS (
          SELECT event_id,
                 CAST(round(v * 12345, 2) AS DECIMAL(38,2)) AS g,
                 CAST(v - 50 AS DECIMAL(38,3)) AS s,
                 CAST(round(50 - v, 1) AS DECIMAL(38,1)) AS m,
                 CAST(round(v * 100, 1) AS DECIMAL(38,1)) AS o,
                 v AS z
          FROM dec),
        parts AS (
          SELECT *,
                 CAST(trunc(abs(g)) AS BIGINT) AS g_ip,
                 substr(CAST(abs(g) AS VARCHAR), -2) AS g_fp,
                 CAST(trunc(abs(s)) AS BIGINT) AS s_ip,
                 substr(CAST(abs(s) AS VARCHAR), -3) AS s_fp,
                 CAST(trunc(abs(m)) AS BIGINT) AS m_ip,
                 substr(CAST(abs(m) AS VARCHAR), -1) AS m_fp,
                 CAST(trunc(abs(o)) AS BIGINT) AS o_ip,
                 substr(CAST(abs(o) AS VARCHAR), -1) AS o_fp,
                 CAST(trunc(abs(z)) AS BIGINT) AS z_ip,
                 substr(CAST(abs(z) AS VARCHAR), -3) AS z_fp
          FROM base)
        SELECT event_id,
               lpad(CASE WHEN g_ip = 0 THEN '' ELSE format('{:,}', g_ip) END
                    || '.' || g_fp, 13, ' ') AS grouped,
               (CASE WHEN s < 0 THEN '-' ELSE '+' END)
                    || lpad(CAST(s_ip AS VARCHAR), 4, '0') || '.' || s_fp AS signed,
               lpad((CASE WHEN m_ip = 0 THEN '' ELSE CAST(m_ip AS VARCHAR) END)
                    || '.' || m_fp, 5, ' ')
                    || (CASE WHEN m < 0 THEN '-' ELSE ' ' END) AS mi,
               CASE WHEN length(CAST(o_ip AS VARCHAR)) > 3 THEN ' ###.#'
                    ELSE lpad((CASE WHEN o_ip = 0 THEN '' ELSE CAST(o_ip AS VARCHAR) END)
                         || '.' || o_fp, 6, ' ') END AS ovf,
               CAST(z_ip AS VARCHAR) || '.' ||
                 (CASE WHEN regexp_replace(z_fp, '0+$', '') = ''
                       THEN substr(z_fp, 1, 1)
                       ELSE regexp_replace(z_fp, '0+$', '') END) AS fmz
        FROM parts"""),
    "dedup_exact": (_q_dedup_exact,
        "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text"),
    "dedup_bykey": (_q_dedup_bykey,
        "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY lang, source"),
    "text_stats": (_q_text_stats, r"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
               CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the
        FROM documents"""),
    "lang_id": (_q_lang_id, _lang_id_oracle()),
    "fingerprint_md5": (_q_fingerprint,
        "SELECT doc_id, md5(text) AS md5 FROM documents"),
    # winnowing rolling-hash fingerprints (SIGMOD'03) — md5-prefix
    # hashes make the window-min selection engine-portable, so DuckDB
    # replays the full pipeline exactly
    "text_winnow_fingerprints": (_q_winnow, """
        SELECT doc_id,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               list_aggregate(fps, 'min') AS min_fp,
               list_aggregate(fps, 'max') AS max_fp
        FROM (
          SELECT doc_id, list_distinct(
            list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                           j -> list_aggregate(hs[j : j + 3], 'min'))) AS fps
          FROM (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(lower(text)) - 7, 1) + 1),
                                  i -> substr(md5(substring(lower(text), i, 8)), 1, 16)) AS hs
            FROM documents))"""),
    "quality_score": (_q_quality, r"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
               CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) > 0
                    THEN CAST(floor((length(text) - (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+')) END) + 1) * 100.0
                         / (CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END)) AS BIGINT)
                    ELSE 0 END AS mean_token_len_x100,
               (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END) >= 10 AS len_ok
        FROM documents"""),
    "dedup_jaccard_chars": (_q_jaccard_chars, """
        WITH chars AS (
          SELECT doc_id, list_distinct(string_split(lower(text), '')) AS cs
          FROM documents WHERE doc_id < 40
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.cs, b.cs)) AS BIGINT) AS inter,
               CAST(len(list_distinct(list_concat(a.cs, b.cs))) AS BIGINT) AS uni
        FROM chars a JOIN chars b ON a.doc_id < b.doc_id"""),
    "text_bpe_tokens": (_q_bpe_tokens, r"""
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_tokens_bpe
        FROM documents"""),
    "text_vocab_topk": (_q_vocab_topk, r"""
        SELECT tok, count(*) AS n FROM (
          SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS tok
          FROM documents)
        GROUP BY tok ORDER BY n DESC, tok LIMIT 50"""),
    "graphmeta_edge_stats": (_q_graphmeta, """
        SELECT 'placed' AS edge_label, CAST(1 AS BIGINT) AS start_labid,
               CAST(4 AS BIGINT) AS end_labid, count(*) AS edgecount FROM orders
        UNION ALL
        SELECT 'contains', 4, 3, count(*) FROM lineitem
        UNION ALL
        SELECT 'supplies', 2, 3, count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
        UNION ALL
        SELECT 'in_nation', 1, 5, count(*) FROM customer
        UNION ALL
        SELECT 'in_nation', 2, 5, count(*) FROM supplier
        UNION ALL
        SELECT 'in_region', 5, 6, count(*) FROM nation"""),
    "dedup_embedding_cosine": (_q_emb_neardup, """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 100 AND b.vec_id < 100
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.25"""),
    "dedup_cluster": (_q_dedup_cluster, _DEDUP_CLUSTER_ORACLE),
    "dedup_keep_best": (_q_dedup_keep_best, _DEDUP_KEEP_BEST_ORACLE),
    "heuristic_filter": (_q_heuristic_filter, _HEURISTIC_FILTER_ORACLE),
    "repetition_filter": (_q_repetition_filter, _REPETITION_FILTER_ORACLE),
    "mix_sample": (_q_mix_sample, _MIX_SAMPLE_ORACLE),
    "quantize_embeddings": (_q_quantize_emb, _QUANTIZE_ORACLE),
    "graph_degree_stats": (_q_degree_stats, _DEGREE_ORACLE),
    "graph_wcc": (_q_graph_wcc, _GRAPH_WCC_ORACLE),
    "graph_scc": (_q_graph_scc, _GRAPH_SCC_ORACLE),
    "graph_triangles": (_q_triangle_counts, _TRIANGLE_ORACLE),
    "neighbor_mean_embeddings": (_q_neighbor_mean_emb, _NEIGHBOR_MEAN_ORACLE),
    "kmeans_update": (_q_kmeans_update, _kmeans_oracle()),
    "decontaminate_ngrams": (_q_decontaminate, _DECONTAMINATE_ORACLE),
    "tfidf_scores": (_q_tfidf, _TFIDF_ORACLE),
    "value_histogram": (_q_value_histogram, _HISTOGRAM_ORACLE),
    "graph_pagerank": (_q_pagerank, _pagerank_oracle()),
    "graph_lpa": (_q_graph_lpa, _lpa_oracle()),
    "graph_kcore": (_q_graph_kcore, _kcore_oracle()),
    "graph_ktruss": (_q_graph_ktruss, _ktruss_oracle()),
    "vocab_ws_topk": (_q_vocab_ws_topk, _VOCAB_ORACLE),
    "redact_pii": (_q_redact_pii, _REDACT_ORACLE),
    "pipeline_curate_e2e": (_q_pipeline_curate, _CURATE_ORACLE),
    "pack_sequences": (_q_pack_sequences, _PACK_ORACLE),
    "chunk_documents": (_q_chunk_documents, _CHUNK_DOCS_ORACLE),
    "temperature_mix": (_q_temperature_mix, _TEMPERATURE_MIX_ORACLE),
    "asof_join_events": (_q_asof_join, _ASOF_ORACLE),
    "asof_join_forward": (_q_asof_forward, _ASOF_FWD_ORACLE),
    "range_join_events": (_q_range_join, _RANGE_ORACLE),
    "stream_quality_gate": (_q_stream_quality_gate, _STREAM_QUALITY_ORACLE),
    "stream_repetition_gate": (_q_stream_repetition_gate, _STREAM_REPETITION_ORACLE),
    "stream_enrich_static": (_q_stream_enrich, _STREAM_ENRICH_ORACLE),
    "stream_interval_join": (_q_stream_interval_join, _STREAM_IJOIN_ORACLE),
    "stream_sessionize": (_q_stream_sessionize, _SESSIONIZE_ORACLE),
    "stream_dedup": (_q_stream_dedup, """
        SELECT DISTINCT user_id, event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr
        FROM events
    """),
    "stream_events_hourly": (_q_stream_events_hourly, """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
               event_type, count(*) AS n,
               round(SUM(CAST(value AS DOUBLE)), 6) AS total_value
        FROM events GROUP BY 1, 2"""),
    "cy_nested_props": (_q_cy_nested_props, """
        SELECT event_type AS etype, count(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        FROM events GROUP BY event_type"""),
    "hybrid_cypher_as_view": (_q_hybrid_cypher_sql,
        "SELECT c_mktsegment AS seg, count(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total "
        "FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    "hybrid_sql_in_cypher": (_q_hybrid_sql_in_cypher,
        "SELECT count(*) AS n_above_avg FROM customer "
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)"),
    "hybrid_correlated_subquery": (_q_hybrid_correlated,
        "SELECT o_orderkey AS okey, "
        "(SELECT count(*) FROM lineitem WHERE l_orderkey = o.o_orderkey) AS n_items "
        "FROM orders o WHERE o_orderkey < 500"),
    "hybrid_in_sublink": (_q_hybrid_in_sublink,
        "SELECT count(*) AS n FROM customer WHERE c_custkey IN "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 300000)"),
    "sql_csv_foreign_scan": (_q_csv_foreign_scan,
        "SELECT CAST(n_regionkey AS BIGINT) AS rkey, count(*) AS n_nations, "
        "min(n_name) AS first_name FROM nation GROUP BY n_regionkey"),
    "mm_media_meta": (_q_mm_media_meta, """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(CASE WHEN doc_id % 3 = 2 THEN 16 + (doc_id % 4) * 4
                         ELSE 64 + (doc_id % 8) * 16 END AS BIGINT) AS width,
               CAST(CASE WHEN doc_id % 3 = 2 THEN 12 + (doc_id % 3) * 4
                         ELSE 48 + (doc_id % 6) * 16 END AS BIGINT) AS height,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS BIGINT) AS channels,
               CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 24 + 1
                         WHEN doc_id % 3 = 1 THEN 2048 + (doc_id % 8) * 512
                         ELSE 1 END AS BIGINT) AS n_frames,
               CAST(CASE WHEN doc_id % 3 = 0 THEN
                         -- netpbm P6: 'P6\\n' + '{w} {h}\\n' + '255\\n' + rgb
                         3 + length(CAST(64 + (doc_id % 8) * 16 AS VARCHAR))
                           + 1 + length(CAST(48 + (doc_id % 6) * 16 AS VARCHAR))
                           + 1 + 4
                           + (64 + (doc_id % 8) * 16) * (48 + (doc_id % 6) * 16) * 3
                    WHEN doc_id % 3 = 1 THEN
                         -- RIFF/WAV PCM 16-bit mono: 44-byte header + 2n
                         44 + 2 * (2048 + (doc_id % 8) * 512)
                    ELSE
                         -- YUV4MPEG2: 'YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\\n'
                         -- + nf * ('FRAME\\n' + 3wh)
                         33 + length(CAST(16 + (doc_id % 4) * 4 AS VARCHAR))
                            + length(CAST(12 + (doc_id % 3) * 4 AS VARCHAR))
                            + (doc_id % 24 + 1)
                              * (6 + 3 * (16 + (doc_id % 4) * 4) * (12 + (doc_id % 3) * 4))
                    END AS BIGINT) AS payload_bytes
        FROM documents"""),
    "mm_frame_sample": (_q_mm_frame_sample, """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(((doc_id % 24 + 1) + 9) // 10 AS BIGINT) AS n_sampled
        FROM documents WHERE doc_id % 3 = 2"""),
    # full-pipeline replay: the oracle regenerates every pixel of every
    # synthetic image ((mid*31 + j*7) % 256 — multimodal._image_pixels)
    # with a generate_series scan and recomputes the statistics the
    # Spark side obtains by actually DECODING the netpbm payloads
    "mm_image_stats": (_q_mm_image_stats, """
        WITH m AS (SELECT CAST(doc_id AS BIGINT) AS mid,
                          64 + (doc_id % 8) * 16 AS w,
                          48 + (doc_id % 6) * 16 AS h
                   FROM documents WHERE doc_id % 3 = 0),
        j AS (SELECT mid, w * h * 3 AS n,
                     unnest(generate_series(0, w * h * 3 - 1)) AS j
              FROM m),
        px AS (SELECT mid, n, (mid * 31 + j * 7) % 256 AS v FROM j)
        SELECT mid AS media_id, CAST(n AS BIGINT) AS n_pixels,
               ROUND(AVG(v), 4) AS mean_value,
               CAST(MIN(v) AS BIGINT) AS min_value,
               CAST(MAX(v) AS BIGINT) AS max_value
        FROM px GROUP BY mid, n"""),
    # full-pipeline replay: the oracle regenerates every PCM sample of
    # every synthetic clip (signed((mid*37 + j*256) % 65536) —
    # multimodal._audio_samples) with a generate_series scan and
    # recomputes the statistics the Spark side obtains by actually
    # DECODING the RIFF/WAV payloads (chunk walk + frombuffer)
    "mm_audio_stats": (_q_mm_audio_stats, """
        WITH m AS (SELECT CAST(doc_id AS BIGINT) AS mid,
                          2048 + (doc_id % 8) * 512 AS n
                   FROM documents WHERE doc_id % 3 = 1),
        j AS (SELECT mid, n, unnest(generate_series(0, n - 1)) AS j FROM m),
        s AS (SELECT mid, n,
                     CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
              FROM (SELECT mid, n, (mid * 37 + j * 256) % 65536 AS v FROM j))
        SELECT mid AS media_id, CAST(n AS BIGINT) AS n_samples,
               CAST(16000 AS BIGINT) AS sample_rate,
               ROUND(AVG(s), 4) AS mean_value,
               CAST(MIN(s) AS BIGINT) AS min_value,
               CAST(MAX(s) AS BIGINT) AS max_value
        FROM s GROUP BY mid, n"""),
    # full-pipeline replay: the oracle regenerates every pixel byte of
    # every synthetic video ((mid*29 + f*17 + 3t) % 256 —
    # multimodal._video_frames) with a generate_series scan over
    # (frame, byte) and recomputes the statistics the Spark side
    # obtains by actually DECODING the YUV4MPEG2 payloads
    "mm_video_stats": (_q_mm_video_stats, """
        WITH m AS (SELECT CAST(doc_id AS BIGINT) AS mid,
                          doc_id % 24 + 1 AS nf,
                          12 + (doc_id % 3) * 4 AS h,
                          16 + (doc_id % 4) * 4 AS w
                   FROM documents WHERE doc_id % 3 = 2),
        f AS (SELECT mid, nf, h, w, unnest(generate_series(0, nf - 1)) AS f
              FROM m),
        t AS (SELECT mid, nf, h, w, f,
                     unnest(generate_series(0, 3 * h * w - 1)) AS t
              FROM f),
        px AS (SELECT mid, nf, h, w,
                      (mid * 29 + f * 17 + 3 * t) % 256 AS v FROM t)
        SELECT mid AS media_id, CAST(nf AS BIGINT) AS n_frames,
               CAST(h AS BIGINT) AS frame_h, CAST(w AS BIGINT) AS frame_w,
               ROUND(AVG(v), 4) AS mean_value,
               CAST(MIN(v) AS BIGINT) AS min_value,
               CAST(MAX(v) AS BIGINT) AS max_value
        FROM px GROUP BY mid, nf, h, w"""),
    # Fuzzy dedup runs in hash_fn='md5' portable mode so DuckDB replays
    # the ENTIRE pipeline (shingle hash → min-hash → banding → est →
    # exact verify); the xxh64 fast path keeps its exact pure-Python
    # differentials in tests/test_differential_dedup.py, which also
    # assert both modes produce identical pair sets.
    "dedup_minhash_lsh": (_q_minhash_lsh, _minhash_md5_oracle()),
    "dedup_simhash": (_q_simhash, _simhash_md5_oracle()),
    "dedup_simhash_pairs": (_q_simhash_pairs, _simhash_pairs_md5_oracle()),
    "ann_cosine_topk": (_q_ann_brute, _ANN_BRUTE_ORACLE),
    "ann_filtered": (_q_ann_filtered, _ANN_FILTERED_ORACLE),
    "ann_filtered_ivf": (_q_ann_filtered_ivf,
                         _ivf_oracle(corpus_where=_FILTERED_WHERE)),
    "ann_filtered_recall": (_q_ann_filtered_recall,
                            _ann_filtered_recall_oracle()),
    "ann_cosine_lsh": (_q_ann_lsh, _lsh_oracle()),
    "ann_cosine_ivf": (_q_ann_ivf, _ivf_oracle()),
    "bm25_topk": (_q_bm25_topk, _BM25_ORACLE),
    "hybrid_rrf_fusion": (_q_hybrid_rrf, _HYBRID_RRF_ORACLE),
    "ann_pq_topk": (_q_ann_pq, _ANN_PQ_ORACLE),
    "ann_ivf_pq_topk": (_q_ann_ivf_pq, _ivf_pq_oracle()),
    # corpus-trained bigram LM quality scoring (CCNet's perplexity
    # filter analog) — full pipeline replayed in DuckDB
    "text_lm_perplexity": (_q_lm_perplexity, _LM_PERPLEXITY_ORACLE),
    # SemDeDup-style semantic dedup: centroid tag + within-cluster
    # keep-lowest-id rule — full pipeline replayed in DuckDB
    "dedup_semantic": (_q_dedup_semantic, _semdedup_oracle()),
    # the cluster-skew audit backing semantic_dedup's cap
    "dedup_semantic_skew": (_q_semdedup_skew, _semdedup_skew_oracle()),
    # HITS hub/authority — max-normalized variant, chained-CTE replay
    "graph_hits": (_q_graph_hits, _hits_oracle()),
    # topic-sensitive (personalized) PageRank from the region seeds
    "graph_ppr": (_q_graph_ppr, _ppr_oracle()),
    # deterministic hash-seeded walks (node2vec-style corpus generator)
    "graph_random_walks": (_q_graph_walks, _walks_oracle()),
    # batch gaps-and-islands sessionization (the stream_sessionize twin)
    "sessionize_events": (_q_sessionize_events, _SESSIONIZE_BATCH_ORACLE),
    # DSIR hashed-ngram importance weights toward the English slice
    "dsir_importance": (_q_dsir_importance, _DSIR_ORACLE),
    # cross-doc duplicate 8-gram spans (ExactSubstr approximation)
    "dedup_dup_spans": (_q_dup_spans, _DUP_SPANS_ORACLE),
    # deterministic per-source document cap (anti-domain-dominance)
    "cap_per_source": (_q_cap_per_source, _CAP_PER_SOURCE_ORACLE),
    "epoch_shuffle": (_q_epoch_shuffle, _EPOCH_SHUFFLE_ORACLE),
    "normalize_text": (_q_normalize_text, _NORMALIZE_TEXT_ORACLE),
    "length_outliers": (_q_length_outliers, _LENGTH_OUTLIERS_ORACLE),
    "fuzzy_decontaminate": (_q_fuzzy_decontaminate,
                            _fuzzy_decontaminate_oracle()),
    # IVF recall@5 vs brute-force ground truth (index quality eval)
    "ann_ivf_recall": (_q_ann_ivf_recall, _ivf_recall_oracle()),
    # bounded-hop harmonic centrality (closeness family)
    "graph_harmonic": (_q_graph_harmonic, _harmonic_oracle()),
    "graph_harmonic_sampled": (_q_graph_harmonic_sampled,
                               _harmonic_sampled_oracle()),
    "graph_betweenness_sampled": (_q_graph_betweenness,
                                  _betweenness_oracle()),
}


# ---------------------------------------------------------------------------

# The driver's correctness gate checks the FIRST 50 registry entries, so
# the front of the registry must cover every operator family — core graph,
# relational SQL, dedup, ANN, text, multimodal, streaming, hybrid — not
# just the graph/SQL prefix. Entries beyond 50 still run in pytest/bench.
#
# GATE-SELECTION POLICY (applied whenever the registry grows):
# 1. RISK FIRST — a gate slot goes to the rows where a silent wrong
#    answer is most likely and hardest to spot locally: the write
#    roundtrips (MERGE/SET mutate state), the iterative path operators
#    (VLE/shortestpath/dijkstra — frontier logic), the fuzzy dedup
#    pipeline (probabilistic stages with exact oracles), streaming-vs-
#    batch equivalence, and hybrid SQL<->Cypher composition.
# 2. ONE GATED ROW PER FAMILY MINIMUM — every family keeps at least one
#    gate representative even when all its rows are individually
#    low-risk (e.g. graphmeta, mm_frame_sample), so a family-wide
#    loader/registration break cannot hide in the tail.
# 3. NOTHING FALLS OFF THE BOARD — every row displaced past the cap is
#    value-verified by tests/test_oracle_parity_tail.py at sf0.001 with
#    the driver's own comparison, and that module's guard fails CI if
#    any registry entry ever loses its oracle. Displacements are chosen
#    from single-operator rows whose family keeps another gate seat
#    (each displacement is annotated inline below).
# tests/test_workload_gate.py pins this policy: exactly 50 entries, the
# high-risk set present, every gate name resolvable in the registry.
PRIORITY_50: tuple[str, ...] = (
    # core graph / Cypher (16)
    "cy_match_1hop", "cy_match_2hop_agg", "cy_optional_match",
    "cy_vle_reach", "cy_shortestpath", "cy_allshortest", "cy_dijkstra",
    "cy_unwind", "cy_union", "cy_agg_stats", "cy_list_comp",
    "cy_quantifiers", "cy_edge_props", "cy_path_nodes",
    "cy_write_set_roundtrip", "cy_write_merge_roundtrip",
    # Cypher nested JSON property access (1)
    "cy_nested_props",
    # relational SQL (10; sql_setops — INTERSECT, same SetOp family as
    # the gated sql_except — moved to the tail, externally verified by
    # tests/test_oracle_parity_tail.py; sql_cte — the plain
    # materialized-CTE row — displaced in round 13 for graph_hits: every
    # chained-CTE oracle replay exercises plain CTEs implicitly and the
    # recursion seat sql_recursive_cte stays)
    # (sql_events_hourly — a plain date_trunc hourly rollup — displaced
    # in round 14 for fuzzy_decontaminate; the same computation shape
    # stays gated as stream_events_hourly's batch oracle, and the tail
    # suite keeps the row externally verified)
    # (sql_json_props — simple JSON column access — displaced in the
    # round-14 second wave for graph_scc; the JSON-properties family
    # stays gated via cy_nested_props, and the tail suite keeps the
    # row externally verified)
    "sql_tpch_q1", "sql_tpch_q5", "sql_tpch_q9", "sql_window_rank",
    "sql_grouping_sets", "sql_except", "sql_exists_semijoin",
    "sql_correlated_scalar",
    # ordered-set / recursion (1; sql_limit_ties, sql_tablesample,
    # sql_csv_foreign_scan, sql_values_scan — simple single-operator
    # rows displaced to the tail in round 5 to make room for that
    # round's pipeline operators; sql_percentile — a deterministic
    # single-operator ordered-set row — displaced in round 13 for
    # dedup_dup_spans; tests/test_oracle_parity_tail.py keeps every
    # displaced row externally verified at sf0.001)
    "sql_recursive_cte",
    # LLM-pipeline: dedup + similarity (6; dedup_bykey — the same
    # exact_dedup operator dedup_exact gates — moved to the tail in
    # round 5; dedup_embedding_cosine — a bounded exact pair join in a
    # family that keeps dedup_exact/minhash/simhash/cluster seats —
    # displaced in round 11 for dedup_semantic, per policy rule 1: the
    # trained-quantizer SemDeDup pipeline is probabilistic and
    # multi-stage, exactly where the gate belongs;
    # tests/test_oracle_parity_tail.py keeps every displaced row
    # externally verified)
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_semantic", "ann_cosine_topk", "ann_cosine_ivf",
    # round-13 seats, per policy rule 1 (risk first): span-level dedup
    # is probabilistic, multi-stage, and newly Generate-quadratic-fixed;
    # HITS is the first analytics recurrence beyond pagerank with a
    # chained-CTE oracle (max-norm per round — more moving parts than
    # the pagerank recurrence)
    "dedup_dup_spans", "graph_hits",
    # round-14 seat, per policy rule 1 (risk first): fuzzy
    # decontamination is probabilistic AND composes the minhash
    # machinery through a parity-encoded train/eval union — the
    # highest-risk new family of round 13
    "fuzzy_decontaminate",
    # round-14 second-wave seats, per policy rule 1 (risk first):
    # strongly connected components is a brand-new multi-round
    # iterative operator (trim + dual min-label fixpoints + settle
    # logic — exactly where a silent wrong answer hides); BM25 opens
    # the lexical-retrieval family with a float scoring formula whose
    # near-tie ordering is the risk surface (displaced sql_json_props
    # and quality_score — both deterministic column-expression rows
    # whose families keep seats; the tail suite keeps them verified)
    "graph_scc", "bm25_topk",
    # LLM-pipeline: text (4; text_bpe_tokens — a deterministic
    # tokenizer-regex row — displaced to the tail in round 11 for
    # text_lm_perplexity; lang_id — deterministic column expressions
    # in a family that keeps text_stats and quality_score seats —
    # displaced in round 12 for dsir_importance, per policy rule 1:
    # the trained two-distribution bucket-model pipeline is where a
    # silent wrong answer hides, like the LM row before it)
    # (quality_score — deterministic column expressions — displaced in
    # the round-14 second wave for bm25_topk; the text family keeps
    # text_stats + both trained rows)
    "text_stats", "dsir_importance", "text_lm_perplexity",
    # LLM-pipeline round-5 additions: clustering dedup, quality gate,
    # mix sampling, temporal join, graph analytics, end-to-end funnel (6)
    "dedup_cluster", "heuristic_filter", "mix_sample",
    "asof_join_events", "graph_pagerank", "pipeline_curate_e2e",
    # graph stats + multimodal + streaming + hybrid (6; hybrid_cypher_as_view
    # and mm_media_meta displaced to the tail — same families remain gated
    # via hybrid_correlated_subquery and mm_frame_sample)
    "graphmeta_edge_stats", "mm_frame_sample",
    "stream_events_hourly", "hybrid_correlated_subquery",
)


def _priority_order(d: dict) -> dict:
    out = {k: d[k] for k in PRIORITY_50 if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {}
    for name, (cy, _) in GRAPH_QUERIES.items():
        out[name] = GRAPH_PYTHON_QUERIES[name] if cy is None else _cypher(cy)
    for name, sql in SQL_QUERIES.items():
        out[name] = _sparksql(sql)
    for name, (fn, _) in PIPELINE_QUERIES.items():
        out[name] = fn
    return _priority_order(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_, oracle) in GRAPH_QUERIES.items():
        if oracle is not None:
            out[name] = oracle
    for name, sql in SQL_QUERIES.items():
        out[name] = SQL_ORACLE_OVERRIDES.get(name, sql)
    for name, (_, oracle) in PIPELINE_QUERIES.items():
        if oracle is not None:
            out[name] = oracle
    out = _priority_order(out)
    return out
