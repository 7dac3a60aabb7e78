"""Shared Spark session + DuckDB oracle fixtures for the test suite."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nspc_etl_basic_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------
# Slow-tier membership (VERDICT r12 ask #3: the default run must fit the
# driver's verify budget — pytest.ini declared the `slow` marker but no
# test carried it, so the default tier still ran 657 tests in ~20-36 min
# depending on window; the driver's VERIFY_r12 run truncated at ~51%).
#
# Marked here CENTRALLY (one auditable list, measured from a
# --durations=0 run at quiet load, 2026-08-18) instead of decorating 20
# files: every long randomized/equivalence/restart/compaction suite
# moves to `-m slow`; the default tier keeps at least one cheaper
# representative per operator family plus the full QUICK_PARITY oracle
# subset, the bench-contract smoke test, and the targeted plan-contract
# regressions. Durations used for the cut: everything >= ~3-4 s whose
# coverage a cheaper default test or the parity gate preserves.
# Default tier after the cut: ~9-10 min (657 -> ~600 tests by count,
# but the duration mass moves: ~1178 s -> ~580 s).
SLOW_TESTS = {
    # whole-registry plan sweep (85 s; targeted plan contracts stay)
    "test_no_accidental_cartesian_products",
    # graph: 6 full pagerank runs (68 s; integer-replay test stays)
    "test_pagerank_identical_across_checkpoint_intervals",
    # warehouse/bucketed-store maintenance chains
    "test_compact_collapses_version_dirs",
    "test_time_travel_history_rotation_releases_dirs",
    "test_repeated_merges_and_gc",
    # retirement randomized/idempotency adversaries (~77 s combined)
    "test_band_store_retire_capped_is_idempotent",
    "test_band_store_retire_is_idempotent_and_unknown_id_noop",
    "test_band_store_retire_randomized_equivalence",
    "test_band_store_retire_reexposes_uncapped_bucket",
    "test_band_store_retire_equals_from_scratch_of_survivors",
    "test_band_store_retire_splits_bridged_component",
    # semdedup stream-vs-scratch equivalence suites (~66 s combined)
    "test_stream_semdedup_vector_updates_equal_from_scratch",
    "test_stream_semdedup_randomized_updates_vs_scratch",
    "test_retire_ids_restores_from_scratch_of_survivors",
    "test_stream_semdedup_equals_batch_and_replays_idempotently",
    "test_incremental_base_assigned_equals_inline_assignment",
    "test_auto_defaults_and_sampled_training",
    # dedup randomized/rebuild equivalence
    "test_incremental_components_randomized_equivalence",
    "test_components_onepass_matches_fixpoint_randomized",
    "test_incremental_components_matches_batch_rebuild",
    "test_incremental_components_empty_batch_and_reingest",
    "test_neardup_components_star_graph_hot_path",
    # structured-streaming restart/exactly-once chains (each builds
    # checkpoint dirs and replays; the core merge test stays default)
    "test_stream_stream_attribution_join_matches_batch",
    "test_windowed_append_drops_late_rows_across_restart",
    "test_stream_dedup_keys_across_restart",
    "test_stream_upsert_bucketed_exactly_once_across_restart",
    "test_sessionize_stateful_emits_closed_sessions",
    "test_sessionize_stateful_preserves_microseconds",
    "test_stream_novelty_first_seen_attribution",
    "test_session_window_stream_matches_batch",
    "test_stream_upsert_cdc_feed_exactly_once",
    "test_stream_dedup_exact_first_wins",
    "test_stream_upsert_jdbc_merges_microbatches",
    "test_stream_upsert_bucketed_touches_only_key_buckets",
    "test_stream_upsert_dedup_tiebreak_is_deterministic",
    "test_superset_guarantee_across_skewed_batches",
    "test_stream_heavy_hitters_tracks_and_reports",
    "test_stream_heavy_hitters_replay_safe",
    "test_stream_ewma_matches_batch_over_history",
    "test_stream_scd2_incremental_equals_rebuild_and_survives_replay",
    "test_stream_span_dedup_cleans_later_batches",
    "test_stream_anomaly_accumulates_and_matches_batch",
    "test_stream_quality_records_metrics",
    # package-pipeline composition (parity[corpus_end_to_end], which
    # runs the curation runner, and the runner's quality-stage test keep
    # the composed path default)
    "test_corpus_pipeline_composes",
    "test_runner_full_recipe_dedup_then_pack",
    "test_runner_forwards_column_names",
    "test_cli_subprocess_end_to_end",
    "test_directory_batch_resume_skips_completed",
    # randomized/reference-replay property suites
    "test_asof_matches_pandas_merge_asof_all_modes",
    "test_asof_null_on_keys_never_match",
    "test_trained_ivf_centroids_beat_seed_on_clustered_data",
    "test_cosine_topk_guard_allows_bounded_and_disabled",
    "test_adc_topk_recall_vs_exact",
    "test_bm25_max_df_fraction_caps_common_terms",
    "test_top_fraction_randomized_vs_sort",
    "test_train_bpe_matches_reference",
    "test_mix_sources_membership_is_pure_function_of_key",
    "test_pack_report_counts_distinct_bins_on_sparse_input",
}


def pytest_collection_modifyitems(config, items):
    names = set()
    for item in items:
        name = item.name.split("[")[0]
        names.add(name)
        if name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # a renamed or deleted test leaves its entry marking nothing; judged
    # only when every test module was collected (a file or node-id run
    # legitimately misses most names)
    test_dir = os.path.dirname(os.path.abspath(__file__))
    modules = {
        os.path.join(test_dir, f)
        for f in os.listdir(test_dir)
        if f.startswith("test_") and f.endswith(".py")
    }
    if modules <= {str(item.path) for item in items}:
        stale = sorted(SLOW_TESTS - names)
        if stale:
            raise pytest.UsageError(
                f"SLOW_TESTS entries match no collected test: {stale}"
            )


@pytest.fixture(scope="session")
def spark():
    # the engine's own factory: master and shuffle partitions follow
    # SPARK_GRAFT_CPUS, so the suite verifies the conf the loader ships with
    s = get_spark(app_name="nspc-etl-basic-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    # Cap the oracle engine: DuckDB's default limit is a fraction of
    # PHYSICAL RAM, but late in the suite the Spark JVM holds most of
    # it — an uncapped heavy oracle then OOMs (seen once with the
    # pre-MATERIALIZED PCA replay). Every oracle runs comfortably in
    # 4 GB; 8 GB leaves margin without enabling overcommit.
    con.execute("SET memory_limit='8GB'")
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
