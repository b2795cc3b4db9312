from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nr_rfc_dischargeobs_spark.session import (  # noqa: E402
    get_spark,
    release_plan_caches,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _release_pins():
    """Release what each test pinned.  Left pinned, the frames would
    accrete for the session and the CacheManager would substitute them
    into semantically equal plans of later tests, so plan-shape results
    would depend on test order.  Requests no ``spark``: Spark-free tests
    stay Spark-free."""
    yield
    release_plan_caches()


# ---------------------------------------------------------------- slow tier
# r14 (VERDICT r13 task 4): the full suite takes ~33-40 min, which no
# longer fits the external driver's pytest window — every round since
# r13 reported a cut-off run as `tests_ok: false` despite zero
# failures.  The heavyweight tests (>= ~5.5 s each; measured with
# --durations, /tmp list reproduced in OPTIMIZATION_r14.md) are marked
# `slow` here, in ONE place, and deselected by default via addopts in
# pyproject.toml — the default gate runs in ~8 min.  NOTHING is
# deleted: run the moved tier with  `python -m pytest tests/ -m slow`
# (it stays part of this repo's own release checks; see
# OPTIMIZATION_r14.md for the green full-suite record).
_SLOW_TESTS = {
    # test_analytics.py
    "test_asof_equal_timestamp_view_wins",
    # test_ann_store.py
    "test_adaptive_target_candidates_dial",
    "test_compact_deleted_purges_rows_and_clears_tombstones",
    "test_delete_vectors_search_parity_with_rebuilt_index",
    "test_full_lifecycle_stream_admit_segment_search",
    "test_merge_segments_carry_matches_search_segments",
    "test_merge_segments_in_place_swap_and_dest_guard",
    "test_merge_segments_refusals",
    "test_range_search_equals_thresholded_full_slate",
    "test_range_search_segments_matches_thresholded_merge",
    "test_readmission_after_delete_via_fresh_segment",
    "test_rotated_artifact_round_trip_and_versioning",
    "test_save_load_search_round_trip",
    "test_search_segments_mixed_bases_and_tombstones",
    "test_search_segments_overlap_dedups",
    "test_search_segments_parity_with_merged_index",
    "test_search_segments_refuses_mixed_geometry_and_empty",
    "test_store_topk_builds_once_per_fingerprint",
    "test_streamed_index_becomes_loadable_artifact",
    "test_streamed_rotated_admission_matches_batch_build",
    # test_bpe.py
    "test_bpe_hypothesis_replica",
    # test_curation_round3.py
    "test_arrow_kernel_zero_norm_parity",
    # test_datamart_source.py
    "test_reads_positional_columns_across_files",
    # test_entry.py
    "test_all_queries_run_at_smoke_sf",
    "test_results_identical_across_shuffle_partitionings",
    "test_results_identical_with_aqe_disabled",
    # test_extensions.py
    "test_connected_components_match_union_find_on_mixed_forest",
    "test_connected_components_star_long_path_converges_fast",
    "test_connected_components_star_matches_min_label",
    "test_decode_jpeg_headers_fail_soft",
    "test_ivf_pq_nprobe_recall_dial_on_testdata",
    "test_kmeans_trained_ivf_beats_arbitrary_seed_recall",
    "test_lsh_single_bucket_equals_brute_force",
    "test_multimodal_decode_is_deterministic",
    # test_ivfadc.py
    "test_index_barrier_materializes_unpersisted_complex_index",
    "test_ivfadc_nprobe_monotone_vs_full_probe",
    "test_kmeans_parallel_seeds_deterministic_and_covering",
    "test_probe_matching_only_repairs_correlated_filter",
    "test_trained_residual_codebook_lifts_recall_over_untrained",
    # test_plan_shapes.py
    "test_no_python_eval_outside_the_stated_kernels",
    # test_properties.py
    "test_entropy_bounds_and_classifier_score_bound",
    "test_pack_assignments_match_pure_python_packer",
    "test_pii_scrub_redaction_is_complete",
    "test_quantize_int8_grid_bound_holds_under_fuzz",
    "test_round_to_grid_matches_pandas_round",
    "test_shard_plan_partition_of_input",
    "test_span_dedup_matches_python_reference",
    # test_round4_ops.py
    "test_decontam_bloom_oracle_parity_on_degenerate_docs",
    "test_ivf_pq_refine_arrow_native_bit_parity",
    "test_ivf_pq_refine_full_slate_equals_brute_force",
    "test_ivf_pq_refine_lifts_recall",
    # test_sqlfn.py
    "test_tvf_ivfadc_range_matches_operator",
    "test_tvf_ivfadc_search_adaptive_target",
    "test_tvf_ivfadc_search_applies_tombstones",
    "test_tvf_ivfadc_search_filtered_and_rotated",
    "test_tvf_ivfadc_search_matches_operator_on_saved_artifact",
    "test_tvf_ivfadc_segments_matches_operator",
    "test_tvf_sim_cosine_topk_matches_operator",
    "test_tvf_sim_semantic_dedup_matches_operator",
    # test_streaming.py
    "test_ivfadc_index_stream_matches_batch_and_replays_safe",
    "test_tombstone_stream_deletes_flow_to_search",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
