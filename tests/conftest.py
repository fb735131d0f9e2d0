from __future__ import annotations

from pathlib import Path

import pytest

from clickhouse_25_5_3_75_stable_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


# ---------------------------------------------------------------------------
# Round-10 (judge ask #6): the driver's `pytest tests/ -x -q` budget is
# ~30 min and the full suite takes ~38 min, so VERIFY truncated at ~80%
# every round. Tests measured >=5 s on the round-10 duration pass are
# marked `slow` and DESELECTED BY DEFAULT via pyproject addopts
# (-m "not slow"); the default run covers the other ~1100 tests in
# ~13-14 min. Run the full suite locally with:  pytest -m "" tests/
# (the driver-sim + sf0.1 sweep independently cover the slow oracle
# params). Nodeids that disappear are ignored harmlessly.
# ---------------------------------------------------------------------------

_SLOW_NODEIDS = {
    "tests/test_access.py::test_user_role_grant_lifecycle",
    "tests/test_behavioral.py::test_funnel_basic_chain",
    "tests/test_behavioral.py::test_funnel_out_of_order_events_dont_chain",
    "tests/test_behavioral.py::test_funnel_restart_uses_latest_chain_start",
    "tests/test_behavioral.py::test_funnel_window_cutoff",
    "tests/test_behavioral.py::test_sequence_match_time_constraints",
    "tests/test_behavioral.py::test_window_funnel_strict_modes",
    "tests/test_chsql.py::test_cli_outfile_binary_formats",
    "tests/test_chsql.py::test_review_findings_round3b",
    "tests/test_chsql_property.py::test_agg_shim_matches_duckdb",
    "tests/test_chsql_property.py::test_datetime_shim_matches_duckdb",
    "tests/test_chsql_property.py::test_format_datetime_fuzz",
    "tests/test_chsql_property.py::test_shim_matches_duckdb",
    "tests/test_chsql_property.py::test_string_shim_matches_duckdb",
    "tests/test_chsql_stmt_property.py::test_chsql_statement_matches_duckdb",
    "tests/test_correctness.py::test_query_matches_oracle[dedup_incremental_ingest]",
    "tests/test_correctness.py::test_query_matches_oracle[dedup_keep_best_quality]",
    "tests/test_correctness.py::test_query_matches_oracle[dedup_minhash_clusters]",
    "tests/test_correctness.py::test_query_matches_oracle[dedup_minhash_lsh_pairs]",
    "tests/test_correctness.py::test_query_matches_oracle[dict_ip_trie_zones]",
    "tests/test_correctness.py::test_query_matches_oracle[embedding_near_dup_lsh]",
    "tests/test_correctness.py::test_query_matches_oracle[embedding_near_dup_pairs]",
    "tests/test_correctness.py::test_query_matches_oracle[func_aes_family_exact]",
    "tests/test_correctness.py::test_query_matches_oracle[func_cityhash_exact]",
    "tests/test_correctness.py::test_query_matches_oracle[func_h3_edge_family]",
    "tests/test_correctness.py::test_query_matches_oracle[func_hash64_family_exact]",
    "tests/test_correctness.py::test_query_matches_oracle[func_hash_longtail_exact]",
    "tests/test_correctness.py::test_query_matches_oracle[gin_phrase_search]",
    "tests/test_correctness.py::test_query_matches_oracle[semantic_dedup_clusters]",
    "tests/test_correctness.py::test_query_matches_oracle[semantic_dedup_fast]",
    "tests/test_correctness.py::test_query_matches_oracle[system_tables_final_batch]",
    "tests/test_correctness.py::test_query_matches_oracle[system_tables_round9_batch]",
    "tests/test_ddl.py::test_alter_lifecycle_fuzz_refuses_cleanly",
    "tests/test_ddl.py::test_lifecycle_refusals",
    "tests/test_ddl.py::test_modify_and_rename_column",
    "tests/test_ddl.py::test_unfreeze_and_detached_tables",
    "tests/test_dialect.py::test_siphash64_auto_dispatch_and_chain",
    "tests/test_dialect.py::test_toweek_all_modes_exact",
    "tests/test_dict_property.py::test_dictget_matches_join_oracle",
    "tests/test_dict_property.py::test_hierarchy_closure_matches_recursive_cte",
    "tests/test_dtype_parity.py::test_dtype_parity[system_tables_final_batch]",
    "tests/test_hashes_extra3.py::test_sql_surface_matches_column_api",
    "tests/test_kql.py::test_externaldata_sources",
    "tests/test_kql_property.py::test_kql_pipeline_matches_duckdb",
    "tests/test_pipeline.py::test_connected_components_star_matches_simple",
    "tests/test_pipeline.py::test_dedup_keep_best_semantics",
    "tests/test_pipeline.py::test_lsh_cosine_pairs_subset_of_exact_with_matching_scores",
    "tests/test_plans.py::test_dynamic_partition_pruning_on_layout",
    "tests/test_prql.py::test_prql_loop_refusals",
    "tests/test_sources.py::test_cli_lake_engine_tables",
    "tests/test_sources.py::test_cli_lake_time_travel",
    "tests/test_sources.py::test_delta_checkpoint_and_protocol_guard",
    "tests/test_sources.py::test_delta_deletion_vectors",
    "tests/test_sources.py::test_delta_log_replay",
    "tests/test_sources.py::test_hudi_cow_timeline_replay",
    "tests/test_sources.py::test_iceberg_metadata_replay",
    "tests/test_sources.py::test_iceberg_v2_equality_deletes",
    "tests/test_sources.py::test_iceberg_v2_positional_deletes",
    "tests/test_sources.py::test_merge_delta_upsert",
    "tests/test_sources.py::test_system_server_settings_and_directories",
    "tests/test_storage_ops.py::test_ip_trie_dictionary_longest_prefix",
    "tests/test_storage_ops.py::test_kill_query_cancels_tagged_job",
    "tests/test_storage_ops.py::test_special_engines_memory_set_join_buffer_null",
    "tests/test_storage_ops.py::test_system_tables_round5_batch",
    "tests/test_storage_ops.py::test_system_tables_wide_surface",
    "tests/test_streaming.py::test_sessionize_closed_sessions_match_batch",
    "tests/test_streaming.py::test_stateful_counts_stream",
    "tests/test_streaming.py::test_window_view_allowed_lateness_update_and_drop",
    "tests/test_system_tables.py::test_catalog_tables_over_a_ddl_dir",
    "tests/test_system_tables.py::test_every_system_table_builds_with_its_declared_columns",
    "tests/test_system_tables.py::test_system_table_reads_run_no_spark_job",
}


def _named_nodeids(config) -> set[str]:
    """Test ids named on the command line (path::name), relative to the
    rootdir like item.nodeid."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        p = Path(config.invocation_params.dir, path).resolve()
        if p.is_relative_to(config.rootpath):
            named.add(f"{p.relative_to(config.rootpath).as_posix()}::{rest}")
    return named


def pytest_collection_modifyitems(config, items):
    # a slow test named explicitly on the command line runs even under
    # the default -m 'not slow' (naming it used to deselect it: exit 5)
    named = _named_nodeids(config)
    for item in items:
        if item.nodeid in _SLOW_NODEIDS and not any(
            item.nodeid == n or item.nodeid.startswith(n + "[") for n in named
        ):
            item.add_marker(pytest.mark.slow)


# Budget creep shows before a run is truncated: every test that took
# >= 5 s (setup, call and teardown) and is not in _SLOW_NODEIDS is listed
# at the end of the run. The list is informational; it never fails a run.
_DURATIONS: dict[str, float] = {}


def pytest_runtest_logreport(report):
    _DURATIONS[report.nodeid] = _DURATIONS.get(report.nodeid, 0.0) + report.duration


def pytest_terminal_summary(terminalreporter):
    creep = sorted(((s, n) for n, s in _DURATIONS.items()
                    if s >= 5 and n not in _SLOW_NODEIDS), reverse=True)
    if creep:
        terminalreporter.section("tests >= 5 s not in _SLOW_NODEIDS")
        for s, n in creep:
            terminalreporter.write_line(f"{s:7.1f}s {n}")
