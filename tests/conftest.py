import itertools
import os

import pytest

from agensgraph_spark import get_spark
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.loader import build_tpch_graph

SF_DIR = "/root/testdata/sf0.001"


# r15 (r14 verdict item 1): the suite grew past the driver's verify
# window (857 tests, ~37-39 min — VERIFY_r14 tests_ok=false because the
# run timed out at ~58% with zero failures). The heavy oracle-replay /
# fuzz / differential batteries are a SLOW LANE excluded from the
# default `pytest tests/` run and exercised in-session with --slow
# (or SPARK_GRAFT_SLOW_TESTS=1). The default lane keeps a value-level
# smoke test of every slow family so coverage never drops to zero.
def pytest_addoption(parser):
    parser.addoption(
        "--slow", action="store_true", default=False,
        help="run the slow lane (oracle replays, fuzz/differential "
             "batteries) in addition to the default fast lane")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy oracle-replay/fuzz/differential battery — excluded "
        "from the default run; enable with --slow or "
        "SPARK_GRAFT_SLOW_TESTS=1")


# Slow-lane membership, generated from a measured full run at r15
# (857 tests, 1111s quiet local: /tmp/pytest_r15_durations.log): every
# test whose call time was >= ~2.5s, EXCEPT the oracle-tail replay,
# which has its own rule below. Regenerate with
# `pytest tests/ --slow -q --durations=0` when the suite grows. The
# list is explicit nodeids (not a runtime threshold) so lane
# membership is deterministic and reviewable.
SLOW_TESTS = frozenset([
    'test_cypher_expr.py::test_nested_json_property_access',
    'test_cypher_expr.py::test_register_pandas_udf',
    'test_cypher_expr.py::test_register_python_udf',
    'test_cypher_expr.py::test_sql_subquery_in_create',
    "test_cypher_expr.py::test_string_ops[toUpper('ab')-AB]",
    'test_cypher_read.py::test_edge_uniqueness',
    'test_cypher_read.py::test_shortestpath_two_hops',
    'test_cypher_read.py::test_two_hop_agg',
    'test_ddl.py::test_constraint_jobs_scale_with_touched_labels_only',
    'test_ddl.py::test_expression_unique_constraint',
    'test_differential.py::test_shortestpath_matches_python_oracle[3]',
    'test_differential.py::test_shortestpath_matches_python_oracle[4]',
    'test_differential_dedup.py::test_connected_components_random_vs_duckdb',
    'test_differential_dedup.py::test_connected_components_string_ids',
    'test_differential_dedup.py::test_jaccard_char_pairs_requires_bound',
    'test_expr_fuzz.py::test_expr_fuzz_differential',
    'test_iteration_state.py::test_bfs_bounded_cached_frames',
    'test_iteration_state.py::test_dijkstra_bounded_cached_frames',
    'test_iteration_state.py::test_dijkstra_cached_frames_independent_of_depth',
    'test_iteration_state.py::test_dijkstra_max_iters_warns',
    'test_iteration_state.py::test_reliable_checkpoint_mode_matches_local',
    'test_iteration_state.py::test_vle_clamp_warns',
    'test_iteration_state.py::test_vle_result_survives_edge_unpersist',
    'test_multimodal.py::test_image_stats_deterministic',
    'test_pipeline_scale.py::test_assign_sessions_bucketed_mode_identical',
    'test_pipeline_scale.py::test_assign_sessions_bucketed_multi_null_ts',
    'test_pipeline_scale.py::test_betweenness_sampled_path_graph',
    'test_pipeline_scale.py::test_bm25_query_term_multiplicity_ignored',
    'test_pipeline_scale.py::test_fuzzy_decontaminate_hand_computed',
    'test_pipeline_scale.py::test_fuzzy_decontaminate_id_space_guard',
    'test_pipeline_scale.py::test_harmonic_centrality_sampled_hand_computed',
    'test_pipeline_scale.py::test_hits_and_harmonic_deep_iters_bounded_plan',
    'test_pipeline_scale.py::test_k_core_differential',
    'test_pipeline_scale.py::test_k_truss_incremental_matches_full_random',
    'test_pipeline_scale.py::test_neighbor_mean_embeddings_hand_computed',
    'test_pipeline_scale.py::test_neighbor_mean_two_rounds',
    'test_pipeline_scale.py::test_new_operators_empty_inputs',
    'test_pipeline_scale.py::test_pagerank_deep_iters_bounded_plan',
    'test_pipeline_scale.py::test_personalized_pagerank_hand_computed',
    'test_pipeline_scale.py::test_personalized_pagerank_out_of_graph_seeds',
    'test_pipeline_scale.py::test_random_walks_match_python_replay',
    'test_pipeline_scale.py::test_scc_adversarial_condensation_chain',
    'test_pipeline_scale.py::test_scc_differential_vs_tarjan',
    'test_pipeline_scale.py::test_semantic_dedup_cap_bounds_hot_cluster',
    'test_plans.py::test_bucketed_join_no_exchange',
    'test_plans.py::test_cypher_hop_join_on_bucketed_graph',
    'test_plans.py::test_edge_triple_stats_flip_fold_order',
    'test_reference_fixtures.py::test_agens_graph_dml',
    'test_reference_fixtures.py::test_allshortestpaths_diamond',
    'test_reference_fixtures.py::test_both_arrow_is_undirected',
    'test_reference_fixtures.py::test_delete_entity_expressions',
    'test_reference_fixtures.py::test_delete_multi_victim_variants',
    'test_reference_fixtures.py::test_dijkstra_reextends_improved_paths',
    'test_reference_fixtures.py::test_dijkstra_reference_graph',
    'test_reference_fixtures.py::test_eager_inheritance_writes',
    'test_reference_fixtures.py::test_eager_merge_set_merge_sequential_optin',
    'test_reference_fixtures.py::test_graphmeta_view_dml_sequence',
    'test_reference_fixtures.py::test_head_tail_last_over_rel_array',
    'test_reference_fixtures.py::test_labels_complex1',
    'test_reference_fixtures.py::test_labels_complex_dag_exact_order',
    'test_reference_fixtures.py::test_match_only_modifier_matrix',
    'test_reference_fixtures.py::test_path_composites_in_write_contexts',
    'test_reference_fixtures.py::test_quantifier_over_rel_array',
    'test_reference_fixtures.py::test_sequential_merge_respects_pipeline_row_order',
    'test_reference_fixtures.py::test_set_sequential_visibility',
    'test_reference_fixtures.py::test_shortestpath_chain',
    'test_reference_fixtures.py::test_shortestpath_nonvarlen_is_single_hop',
    'test_reference_fixtures.py::test_shortestpath_zero_hop',
    'test_reference_fixtures.py::test_vle_hop_ranges',
    'test_reference_fixtures.py::test_vle_mixed_elabels_ag216',
    'test_reference_fixtures.py::test_vle_parenthesized_pattern_limits',
    'test_reference_fixtures.py::test_vle_tree_expansion_ag154',
    'test_sqlfuncs.py::test_to_char_number_fast_vs_general_differential',
    'test_sqlfuncs.py::test_to_char_timestamp_fuzz',
    'test_sqlfuncs.py::test_to_char_to_number_roundtrip_property',
    'test_streaming.py::test_interval_join_boundaries',
    'test_streaming.py::test_sessionize_stateful',
])

# The oracle-tail replay (123 DuckDB value replays at sf0.001, ~105s)
# is slow-lane EXCEPT one cheap representative per operator family, so
# the default lane keeps a value-level smoke of every family the tail
# covers (the full tail also re-runs via tools/check_oracle.py at
# sf0.01 in-session every round).
SMOKE_TAIL = frozenset([
    'cy_order_limit',        # cypher read
    'sql_tpch_q6',           # sql
    'sql_window_groups',     # window frames
    'stream_dedup',          # streaming
    'graph_wcc',             # graph analytics
    'ann_filtered_recall',   # ann/similarity
    'dedup_simhash_pairs',   # dedup
    'text_vocab_topk',       # text stats
    'mm_audio_stats',        # multimodal
    'kmeans_update',         # clustering
    'hybrid_sql_in_cypher',  # hybrid surface
    'cap_per_source',        # sampling
])

_TAIL_RE = "test_oracle_parity_tail.py::test_tail_query_matches_oracle"


def _lane_id(item) -> str:
    # only the leading directory goes: parametrize ids may contain "/"
    return item.nodeid.removeprefix("tests/")


def _tail_row(nodeid: str) -> str | None:
    if nodeid.startswith(_TAIL_RE + "["):
        return nodeid[len(_TAIL_RE) + 1:-1]
    return None


def _is_slow(item) -> bool:
    nodeid = _lane_id(item)
    if nodeid in SLOW_TESTS or "slow" in item.keywords:
        return True
    row = _tail_row(nodeid)
    return row is not None and row not in SMOKE_TAIL


def _check_lane_lists(config, items):
    """A SLOW_TESTS or SMOKE_TAIL entry that names no collected test is
    a lane list rotting silently: fail the collection. Entries are
    checked only against files that collected, and not at all when the
    command line selects single tests."""
    if any("::" in str(a) for a in config.args):
        return
    ids = {_lane_id(it) for it in items}
    files = {nid.split("::")[0] for nid in ids}
    stale = sorted(e for e in SLOW_TESTS
                   if e.split("::")[0] in files and e not in ids)
    if _TAIL_RE.split("::")[0] in files:
        rows = {_tail_row(nid) for nid in ids}
        stale += sorted(f"SMOKE_TAIL {r!r}" for r in SMOKE_TAIL
                        if r not in rows)
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py lane lists name no collected test: "
            + ", ".join(stale))


def pytest_collection_modifyitems(config, items):
    _check_lane_lists(config, items)
    if config.getoption("--slow") or os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow lane: run with --slow or SPARK_GRAFT_SLOW_TESTS=1")
    for item in items:
        if _is_slow(item):
            item.add_marker(skip)


_JOB_GROUPS = itertools.count()


def jobs_in(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted through a job
    group of its own. The group name comes from a counter: ``id(fn)``
    would collide when CPython reuses a freed lambda's address and
    silently add earlier jobs to the count."""
    sc = spark.sparkContext
    group = f"jobs-in-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def checkpoint_dirs(root) -> set[str]:
    """The ``rdd-*`` directories (one per reliable checkpoint) under
    ``root``, the directory ``spark.agensgraph.checkpointDir`` names."""
    return {dp for dp, _, _ in os.walk(root)
            if os.path.basename(dp).startswith("rdd-")}


@pytest.fixture(scope="session")
def spark():
    return get_spark("agensgraph-tests")


@pytest.fixture(scope="session")
def tpch_graph(spark):
    return build_tpch_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def engine(spark, tpch_graph):
    return CypherEngine(spark, tpch_graph)
