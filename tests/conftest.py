from __future__ import annotations

import pytest

from pyspark_coding_challenge_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def test_kind(monkeypatch):
    """A throwaway session-state kind whose release rule records every value
    it releases; yields (kind name, released values)."""
    from pyspark_coding_challenge_spark import session_state as SS

    released: list = []
    monkeypatch.setitem(SS.KINDS, "test_kind",
                        SS.Kind(SS.STATISTIC, released.append))
    yield "test_kind", released
    SS.clear(None, "test_kind")


# ---------------------------------------------------------------------------
# Slow tier (r17, verdict item #3). Every entry below measured >= 10 s in
# the full-suite duration profile (pytest --durations, 424 tests, 31:16
# wall); together they account for ~20 of those 31 minutes. They are
# multi-session endurance runs, refresh-grid matrices, machine-wide plan
# audits, and the two heaviest oracle replays — each family keeps faster
# siblings in the default tier, and the driver's own oracle gate re-checks
# every slug regardless. Matched by PREFIX against the nodeid's file::test
# part so parametrized cases fold under one entry.
#
# Default runs exclude these (pytest.ini addopts = -m "not slow"); the
# full tier is `python -m pytest tests/ -m "slow or not slow"`.
# ---------------------------------------------------------------------------
SLOW_TESTS = (
    "test_artifacts.py::test_cc_autoselect_full_below_crossover",
    "test_artifacts.py::test_cc_patch_equals_full_in_fresh_session",
    "test_artifacts.py::test_incremental_artifact_update_matches_full_build",
    "test_artifacts.py::test_incremental_update_patches_cc_labels_and_digests",
    "test_artifacts.py::test_pairs_artifact_round_trip_in_session",
    "test_artifacts.py::test_pairs_artifact_survives_fresh_session",
    "test_artifacts.py::test_stale_lineage_rebuild_in_fresh_session",
    "test_artifacts.py::test_text_patched_artifacts_seed_fresh_session_zero_scans",
    "test_artifacts.py::test_refresh_all_one_context",
    "test_centroid_refresh.py::test_assignments_rebuild_under_retrain",
    "test_centroid_refresh.py::test_stored_section_equals_inline_search",
    "test_centroid_refresh.py::test_ivf_stored_sections_refresh_on_every_call",
    "test_centroid_refresh.py::test_update_all_runs_embeddings_side",
    "test_changelog_refresh.py::test_append_only_ingest_changelog_end_to_end",
    "test_changelog_refresh.py::test_changelog_against_wrong_old_snapshot_is_caught",
    "test_changelog_refresh.py::test_changelog_without_stored_digests_is_rejected",
    "test_changelog_refresh.py::test_lying_changelog_falls_back_to_scan",
    "test_changelog_refresh.py::test_removed_doc_still_present_is_caught",
    "test_changelog_refresh.py::test_valid_changelog_patches_without_any_corpus_diff",
    "test_compaction.py::test_chained_refresh_endurance_with_compaction",
    "test_compaction.py::test_compact_heals_crashed_per_bucket_swaps",
    "test_compaction.py::test_compact_partitioned_artifact_per_bucket",
    "test_llm_dedup.py::test_incremental_cc_merge_split_and_untouched",
    "test_llm_dedup.py::test_incremental_section_matches_spark_full_recompute",
    "test_llm_dedup.py::test_incremental_update_added_only_churn_overfull_bucket_superset",
    "test_llm_dedup.py::test_incremental_update_keeps_split_mega_bucket_connected",
    "test_llm_dedup.py::test_incremental_update_matches_full_recompute_on_planted_churn",
    "test_llm_dedup.py::test_incremental_update_repairs_bucket_shrunk_under_cap",
    "test_llm_dedup.py::test_leakage_safe_split_invariants",
    "test_llm_dedup.py::test_leakage_safe_split_planted_pair_lands_together",
    "test_llm_dedup.py::test_quality_keeper_beats_min_id_keeper",
    "test_llm_similarity.py::test_ann_recall_bounds_at_sf01",
    "test_plan_quality.py::test_no_cartesian_products_anywhere",
    "test_plan_quality.py::test_no_python_row_udfs_in_any_plan",
    "test_pq.py::test_auto_refine_equals_pinned_at_sf01",
    "test_pq.py::test_pq_codes_complete_bounded_deterministic",
    "test_pq_refresh.py::test_auto_refine_over_stored_codes_aggregates_nothing",
    "test_pq_refresh.py::test_coarse_retrain_forces_pq_retrain",
    "test_pq_refresh.py::test_env_knob_seeds_pq_pair",
    "test_pq_refresh.py::test_pq_codes_artifact_serves_search_identically",
    "test_pq_refresh.py::test_pq_codes_clustered_churn_still_patches",
    "test_pq_refresh.py::test_pq_codes_cohort_bound_maintained_under_patch",
    "test_pq_refresh.py::test_pq_codes_full_rebuild_is_static_under_dynamic_conf",
    "test_pq_refresh.py::test_pq_codes_growth_churn_stays_patched",
    "test_pq_refresh.py::test_pq_codes_patch_touches_only_churn_buckets",
    "test_pq_refresh.py::test_pq_codes_scattered_churn_falls_back_to_rebuild",
    "test_pq_refresh.py::test_pq_retrain_on_drift",
    "test_pq_refresh.py::test_stored_pq_raises_on_degrade",
    "test_pq_refresh.py::test_stored_pq_section_equals_inline_search",
    "test_pq_refresh.py::test_update_all_refreshes_pq_side",
    "test_registry_oracles.py::test_every_query_output_is_driver_hashable",
    "test_registry_oracles.py::test_slug_matches_oracle[dedup_clusters]",
    "test_registry_oracles.py::test_slug_matches_oracle[embedding_ann_ivf]",
    "test_span_patch.py::test_second_refresh_chains_on_patched_state",
    "test_streaming_ingest.py::test_ingest_refresh_serve_refreshes_on_every_call",
    "test_streaming_ingest.py::test_ingested_digests_feed_the_supplied_refresh",
    "test_supplied_digests.py::test_missing_columns_rejected",
    "test_supplied_digests.py::test_supplied_digests_skip_the_hash_scan",
    "test_supplied_digests.py::test_supplied_vec_digests_on_the_embeddings_side",
    "test_supplied_digests.py::test_wrong_count_rejected_before_any_work",
    "test_supplied_digests.py::test_wrong_supplied_digest_forces_the_scan_path",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid is "<path>/<file>.py::<test>[param]"; compare on the
        # file::test tail so the match is invocation-cwd independent
        nid = item.nodeid.rsplit("/", 1)[-1]
        if any(nid.startswith(p) for p in SLOW_TESTS):
            item.add_marker(pytest.mark.slow)
