import contextlib
import os

import pytest

from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

# Test data: the sf0.001 set (the oracle replica's default scale) and its
# sibling scale-factor directories, all resolved from this one root.
ORACLE_SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
SF_0_01_DIR = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    # env-overridable so the suite's core-count/shuffle-width can be
    # tuned per host without editing the fixture (r14 verdict task 6:
    # the suite is latency-bound on many small sequential jobs)
    s = get_spark(
        app_name="tests",
        master=os.environ.get("TEST_SPARK_MASTER", "local[4]"),
        shuffle_partitions=int(os.environ.get("TEST_SHUFFLE_PARTITIONS", "4")),
    )
    yield s


# ---------------------------------------------------------------------------
# References the single product paths are checked against.


@contextlib.contextmanager
def distributed_loops():
    """Run `quantize.pq_train` and `similarity.kcenter_select` on their
    distributed loops.  Both take the driver-side numpy path while the
    pool fits a `_kmeans_np` cap, so caps of 0 force the other side."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 0)
        mp.setattr(_kmeans_np, "DRIVER_SELECT_CAP", 0)
        yield


def minhash_reference_base(df, ngram_n=3, num_hashes=8):
    """`dedup.minhash_base(df, ...)` rebuilt from public Column
    expressions (lowercased tokens -> distinct word n-grams -> md5-lane
    signature), sharing no code with its Arrow pass.  ``num_hashes=0``
    gives just ``(k, sh)``."""
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    sh = X.word_ngrams_from_tokens(X.lower_tokens("text"), ngram_n)
    return (
        df.select(F.col("doc_id").alias("k"), sh.alias("sh"))
        .where(F.size("sh") > 0)
        .select("k", "sh", *dedup.minhash_signature(F.col("sh"), num_hashes))
    )


def ngram_jaccard_bruteforce(grams, threshold, min_df_prune=50):
    """`dedup.ngram_jaccard_pairs` over ``grams`` ({key: n-gram list})
    in plain Python: every key pair sharing an n-gram found in at most
    ``min_df_prune`` documents, scored by exact Jaccard rounded the way
    Spark's F.round does -> sorted (key_a, key_b, jaccard)."""
    from collections import Counter

    from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
        round_spark_scalar,
    )

    sets = {k: set(g) for k, g in grams.items()}
    df_count = Counter(g for s in sets.values() for g in s)
    keys = sorted(sets)
    out = []
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            sa, sb = sets[a], sets[b]
            if not any(df_count[g] <= min_df_prune for g in sa & sb):
                continue
            j = round_spark_scalar(len(sa & sb) / len(sa | sb), 6)
            if j >= threshold:
                out.append((a, b, j))
    return out


# ---------------------------------------------------------------------------
# Slow-test gate (r17, VERDICT item 2): the serial suite outgrew the
# driver's plain-pytest verify budget (VERIFY_r16 tests_ok=false came
# from a mid-suite TRUNCATION, not a failure).  The heavy streaming-
# emulation, property-battery, index-build and iterative-graph tests —
# every test measured >= 8 s serial EXCEPT the oracle replica
# (test_oracle.py), the plan pins (test_plans.py) and the rotation
# audit (test_rotation.py), which must stay in the default run — are
# marked `slow` and SKIPPED unless SPARK_GRAFT_RUN_SLOW=1.
# tools/partest.py (the builder's sharded full battery) sets that env,
# so full coverage still runs on every round; the default `pytest
# tests/` run keeps the correctness core only.  Entries are
# (file basename, test function name); tests/test_slow_gate.py fails
# on an entry that names no test, since a stale entry would silently
# stop gating (a renamed slow test would join the default run).  A test
# selected by node id on the command line (``file::test``) is never
# skipped: the gate trims the default run, not an explicit request.
_SLOW_TESTS = {
    ("test_assoc_fusion.py", "test_cooccurrence_counts_and_lift"),
    ("test_assoc_fusion.py", "test_cooccurrence_hot_basket_cap"),
    ("test_classifier.py", "test_kcenter_engines_agree"),
    ("test_classifier.py", "test_scores_partition_invariant"),
    ("test_classifier.py", "test_train_learns_separable_boundary"),
    ("test_components.py", "test_collapsed_representatives_match_full_graph"),
    ("test_components.py", "test_components_on_real_minhash_pairs"),
    ("test_components.py", "test_pagerank_matches_reference_and_conserves_mass"),
    ("test_components.py", "test_pagerank_two_node_cycle_is_uniform"),
    ("test_components.py", "test_path_graph_converges_logarithmically"),
    ("test_datasource.py", "test_partitioned_fetch_row_count"),
    ("test_dedup_similarity.py", "test_banded_chunk_split_and_pair_verify_equivalence"),
    ("test_dedup_similarity.py", "test_ivf_index_roundtrip_matches_inline"),
    ("test_dedup_similarity.py", "test_release_unpersists_operator_caches"),
    ("test_dedup_similarity.py", "test_train_ivf_centroids_edge_shapes"),
    ("test_ivfpq.py", "test_append_to_ivfpq_index_matches_full_rebuild_assignment"),
    ("test_ivfpq.py", "test_build_engine_sql_matches_default"),
    ("test_ivfpq.py", "test_ivfpq_append_then_query_finds_appended_vector"),
    ("test_ivfpq.py", "test_residual_meta_roundtrip_and_default"),
    ("test_joins_sessions.py", "test_followup_stats_matches_binned_join_aggregate"),
    ("test_pq.py", "test_pq_train_engines_agree_on_pads_and_refills"),
    ("test_pq.py", "test_pq_train_engines_agree_on_real_embeddings"),
    ("test_pq.py", "test_pq_train_k256_production_regime"),
    ("test_properties.py", "test_asof_join_matches_bruteforce"),
    ("test_properties.py", "test_asof_join_null_keys_matches_bruteforce"),
    ("test_properties.py", "test_bm25_indexed_matches_direct_random"),
    ("test_properties.py", "test_connected_components_match_union_find"),
    ("test_properties.py", "test_contamination_matches_bruteforce"),
    ("test_properties.py", "test_kcenter_engines_agree_under_null_elements"),
    ("test_properties.py", "test_minhash_engines_agree_on_random_text"),
    ("test_properties.py", "test_ngram_jaccard_engines_agree_on_random_text"),
    ("test_properties.py", "test_pq_train_engines_agree_property"),
    ("test_properties.py", "test_range_lookup_join_matches_bruteforce"),
    ("test_properties.py", "test_salted_join_output_invariant_random"),
    ("test_quality.py", "test_backfill_runs_days_isolated"),
    ("test_quality.py", "test_config_overrides_thresholds"),
    ("test_quantize.py", "test_execute_mix_plan_expectation_and_determinism"),
    ("test_quantize.py", "test_hash_split_group_integrity"),
    ("test_quantize.py", "test_quantize_roundtrip_error_bound"),
    ("test_quantize.py", "test_temperature_weights_limits"),
    ("test_ranking_semdedup.py", "test_bm25_topk_order_and_determinism"),
    ("test_ranking_semdedup.py", "test_q141_bm25_indexed_oracle_shape"),
    ("test_ranking_semdedup.py", "test_semantic_dedup_drops_planted_dups"),
    ("test_ranking_semdedup.py", "test_semantic_dedup_no_pairs_keeps_everything"),
    ("test_ranking_semdedup.py", "test_semantic_dedup_null_embedding_survives"),
    ("test_ranking_semdedup.py", "test_term_index_all_numeric_hex_buckets"),
    ("test_ranking_semdedup.py", "test_term_index_matches_direct_bm25"),
    ("test_ranking_semdedup.py", "test_term_index_scan_prunes_partitions"),
    ("test_streaming.py", "test_ingest_signature_index_maintained_and_reused"),
    ("test_streaming.py", "test_ingest_signature_index_self_heals"),
    ("test_streaming.py", "test_multi_batch_drain_equals_sequential_ingest"),
    ("test_streaming.py", "test_run_available_now_multi_file_backfill_drops_nothing"),
    ("test_streaming.py", "test_sessions_available_now_equals_batch"),
    ("test_streaming.py", "test_sessions_null_ts_rows_are_skipped"),
    ("test_streaming.py", "test_stream_dedup_ingest_gates_near_dups"),
    ("test_streaming.py", "test_stream_stream_join_matches_batch"),
    ("test_streaming.py", "test_stream_to_lake_upsert_exactly_once"),
    ("test_streaming.py", "test_stream_to_lake_upsert_oracle_roundtrip"),
    ("test_streaming.py", "test_streaming_dedup_collapses_injected_duplicates"),
    ("test_streaming.py", "test_streaming_sessionize_emits_closed_sessions"),
    # r17 second cut: the 4-8 s band (same exclusions, plus
    # test_joins_sessions.py kept default - it pins this round's
    # changed q37/followup_stats surface)
    ("test_bpe.py", "test_apply_bpe_arrow_fuzz_vs_fold"),
    ("test_bpe.py", "test_apply_bpe_arrow_matches_fold_on_learned_merges"),
    ("test_bpe.py", "test_bpe_matches_sequential_reference"),
    ("test_bpe.py", "test_bpe_real_corpus_prefix_consistency"),
    ("test_bpe.py", "test_q143_bpe_oracle_shape"),
    ("test_bpe.py", "test_q144_bpe_encode_oracle_shape"),
    ("test_classifier.py", "test_end_to_end_beats_majority_class"),
    ("test_classifier.py", "test_sampled_training_scores_everyone"),
    ("test_components.py", "test_pagerank_zero_outweight_node_is_dangling"),
    ("test_dedup_similarity.py", "test_ivf_append_lands_in_trained_cells"),
    ("test_dedup_similarity.py", "test_ivf_index_scan_prunes_partitions"),
    ("test_dedup_similarity.py", "test_ivf_topk_overlaps_exact"),
    ("test_dedup_similarity.py", "test_minhash_arrow_equals_sql_engine"),
    ("test_dedup_similarity.py", "test_trained_ivf_recall_on_planted_clusters"),
    ("test_index_schemas.py", "test_persisted_index_reads_back_with_declared_dtypes"),
    ("test_ivfpq.py", "test_build_tolerates_null_embeddings"),
    ("test_ivfpq.py", "test_build_with_train_sample_mod_encodes_full_corpus"),
    ("test_ivfpq.py", "test_corrupt_meta_sidecar_raises_not_silent_fallback"),
    ("test_ivfpq.py", "test_l2_metric_consistency_with_varying_norms"),
    ("test_ivfpq.py", "test_missing_meta_sidecar_falls_back_to_raw_codes"),
    ("test_ivfpq.py", "test_q138_params_never_trigger_refill_on_residuals"),
    ("test_ivfpq.py", "test_residual_encoding_near_exact_on_clustered_data"),
    ("test_medical_functions.py", "test_age_bins_right_closed"),
    ("test_pq.py", "test_pq_train_auto_caps_unbounded_collect"),
    ("test_properties.py", "test_apply_cdc_matches_python_model"),
    ("test_properties.py", "test_binned_interval_join_matches_bruteforce"),
    ("test_properties.py", "test_blocked_fuzzy_join_matches_bruteforce_within_blocks"),
    ("test_properties.py", "test_cooccurrence_matches_bruteforce"),
    ("test_properties.py", "test_funnel_matches_brute_force"),
    ("test_properties.py", "test_lake_csv_head_roundtrip_lossless_random"),
    ("test_properties.py", "test_rrf_fuse_matches_python_reference"),
    ("test_properties.py", "test_snapshot_diff_matches_dict_reference"),
    ("test_properties.py", "test_span_dedup_invariants"),
    ("test_quality.py", "test_duplicate_detection_counts_all_rows"),
    ("test_quality.py", "test_quality_cli_config_exit_code"),
    ("test_ranking_semdedup.py", "test_bm25_scores_basic"),
    ("test_scd.py", "test_apply_cdc_last_writer_wins"),
    ("test_skew.py", "test_salted_inner_matches_plain"),
    ("test_skew.py", "test_salted_left_keeps_unmatched"),
    ("test_stats.py", "test_mad_outlier_summary_collision_and_exotic_names"),
    ("test_stats.py", "test_mad_outlier_summary_flags_planted_outlier"),
    ("test_streaming.py", "test_hourly_counts_available_now_matches_batch"),
    ("test_streaming.py", "test_stream_static_enrich_matches_batch"),
    ("test_streaming.py", "test_streaming_zscore_planted_spike"),
}


def _selected_by_node_id(item, args, cwd) -> bool:
    """True when a command-line argument names ``item`` by node id
    (``path::name``, ``path::name[param]`` or ``path::Class``): a test
    someone asked for by name runs even when it is slow-gated."""
    path = os.path.realpath(str(item.fspath))
    rest = item.nodeid.split("::", 1)[1]
    for arg in args:
        arg_path, sep, sel = arg.partition("::")
        if not sep or os.path.realpath(os.path.join(cwd, arg_path)) != path:
            continue
        if rest == sel or rest.startswith((sel + "[", sel + "::")):
            return True
    return False


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    run_slow = os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1"
    skip = _pytest.mark.skip(
        reason="slow (default-deselected; SPARK_GRAFT_RUN_SLOW=1 runs it"
        " - tools/partest.py does)"
    )
    for item in items:
        name = getattr(item, "originalname", None) or item.name
        if (item.fspath.basename, name) in _SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)
            if not run_slow and not _selected_by_node_id(
                item, config.args, config.invocation_params.dir
            ):
                item.add_marker(skip)
