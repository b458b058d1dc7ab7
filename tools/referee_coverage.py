#!/usr/bin/env python
"""Referee-coverage ledger: maps EVERY contract query to its
correctness-evidence classes beyond DuckDB oracle parity.

Evidence classes per query:

- ``oracle``   — implicit: every live query has an ``oracle_sql()``
  entry and is swept by ``tools/make_manifest.py`` (and the blanket
  ``tests/test_oracle_parity.py::test_query_matches_oracle``).
- ``referee``  — a test comparing the query (or the exact operator
  path it composes) against an INDEPENDENT reimplementation: a
  dict-and-loop brute force, golden hand-computed vectors, a planted
  ground truth, a cross-mode twin (stream vs batch), or a second
  independent construction of the same result.
- ``property`` — a targeted plan-shape or invariant test (pushdown,
  broadcast, no-cartesian, recall floor, partition law) specific to
  the query or its operator.

Blanket guards (not listed per-query; they run over the WHOLE
contract): ``test_no_cartesian_or_nested_loop_anywhere`` (plan),
``test_query_matches_oracle`` (oracle parity), the manifest sweep.

Run ``python tools/referee_coverage.py`` to print the table and
validate: every live query must appear, every cited test must exist,
and NO query may be parity-only (empty referee AND empty property).
Exit 1 on any violation. The pytest twin
(tests/test_referee_ledger.py) keeps this ledger synced to the live
contract.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

D1 = "tests/test_differential_reference.py"
D2 = "tests/test_differential_reference2.py"
D3 = "tests/test_differential_reference3.py"
D4 = "tests/test_differential_reference4.py"
PLAN = "tests/test_plan_shapes.py"
PLAN8 = "tests/test_plan_shapes_round8.py"
PLAN9 = "tests/test_plan_shapes_round9.py"
LAT_G = "tests/test_graph_latent_inputs.py"
LAT_S = "tests/test_stats_latent_inputs.py"
JUNK = "tests/test_junk_smoke.py::test_previously_crashing_queries_survive_junk"
MM = "tests/test_multimodal.py"
FN = "tests/test_functions.py"

#: query -> {"referee": [...], "property": [...]}
LEDGER: dict[str, dict[str, list[str]]] = {
    # ETL / reference-parity surface
    "cycle_time_sessionize": {
        "referee": ["tests/test_sessionize.py::test_status_metrics_readme_walkthrough"],
        "property": [f"{PLAN}::test_sessionize_single_shuffle"],
    },
    "latest_version_dedup": {
        "referee": ["tests/test_etl.py::test_latest_version_dedup"],
        "property": ["tests/test_etl.py::test_latest_version_dedup_tiebreak_is_slim_and_deterministic"],
    },
    "incremental_watermark": {
        "referee": ["tests/test_etl.py::test_run_etl_incremental_upsert"],
        "property": [f"{PLAN}::test_watermark_predicate_pushdown"],
    },
    "snake_case_normalize": {
        "referee": [f"{FN}::test_to_snake_case"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "human_time_format": {
        "referee": [
            "tests/test_properties.py::test_human_time_expression_matches_python",
            f"{FN}::test_to_human_time",
        ],
        "property": ["tests/test_properties.py::test_human_time_fixed_point"],
    },
    "business_hours_duration": {
        "referee": [
            "tests/test_properties.py::test_business_seconds_impls_agree",
            f"{FN}::test_business_seconds_holiday",
        ],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "json_value_extract": {
        "referee": [f"{FN}::test_extract_changelog_value"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "display_timezone": {
        "referee": [f"{FN}::test_format_display_datetime_reference_vectors"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "bytes_human": {
        "referee": [f"{FN}::test_bytes_to_human"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    # TPC-H-ish SQL family (wave-4 pandas/dict referees)
    "pricing_summary": {
        "referee": [f"{D4}::test_pricing_summary_matches_bruteforce"],
        "property": [
            f"{PLAN}::test_aggregates_are_partial",
            f"{PLAN}::test_whole_stage_codegen_in_hot_path",
        ],
    },
    "region_revenue": {
        "referee": [f"{D4}::test_region_revenue_matches_bruteforce"],
        "property": [f"{PLAN}::test_dim_joins_are_broadcast"],
    },
    "top_customers": {
        "referee": [f"{D4}::test_top_customers_matches_bruteforce"],
        "property": [f"{PLAN}::test_top_customers_uses_top_k_sort"],
    },
    "point_lookup": {
        "referee": [f"{D4}::test_point_lookup_matches_bruteforce"],
        "property": [f"{PLAN}::test_point_lookup_pushes_filter_to_scan"],
    },
    "anti_join": {
        "referee": [f"{D4}::test_anti_join_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "set_ops": {
        "referee": [f"{D4}::test_set_ops_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "distinct_agg": {
        "referee": [f"{D4}::test_distinct_agg_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "sql_interface": {
        "referee": [f"{D4}::test_sql_interface_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "supplier_balance": {
        "referee": [f"{D4}::test_supplier_balance_matches_bruteforce"],
        "property": [f"{PLAN}::test_dim_joins_are_broadcast"],
    },
    "rollup_orders": {
        "referee": [f"{D4}::test_rollup_orders_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "cube_orders": {
        "referee": [f"{D4}::test_cube_orders_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "grouping_sets_orders": {
        "referee": [f"{D4}::test_grouping_sets_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "pivot_orders": {
        "referee": [f"{D4}::test_pivot_orders_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "running_total": {
        "referee": [f"{D4}::test_running_total_matches_bruteforce"],
        "property": [f"{PLAN}::test_running_total_single_shuffle"],
    },
    "shipping_priority": {
        "referee": [f"{D4}::test_shipping_priority_matches_bruteforce"],
        "property": [f"{PLAN}::test_shipping_priority_topk_and_broadcast_dim"],
    },
    "cheapest_supplier": {
        "referee": [f"{D4}::test_cheapest_supplier_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "trade_volume_q7": {
        "referee": [f"{D4}::test_trade_volume_q7_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "mom_revenue": {
        "referee": [f"{D4}::test_mom_revenue_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "moving_avg_daily": {
        "referee": [f"{D4}::test_moving_avg_daily_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "percent_rank_acctbal": {
        "referee": [f"{D4}::test_percent_rank_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "ntile_quartiles": {
        "referee": [f"{D4}::test_ntile_quartiles_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "value_percentiles": {
        "referee": [f"{D4}::test_value_percentiles_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "skew_report": {
        "referee": [f"{D4}::test_skew_report_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "heatmap_hour_value": {
        "referee": [f"{D4}::test_heatmap_hour_value_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "weekday_seasonality": {
        "referee": [f"{D4}::test_weekday_seasonality_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_ts_does_not_null_seasonality_index", f"{PLAN9}::test_plan_contract"],
    },
    "median_gap": {
        "referee": ["tests/test_grouped.py::test_native_median_equals_pandas_path"],
        "property": ["tests/test_grouped.py::test_native_median_plan_has_no_python", f"{LAT_S}::test_median_gap_twins_agree_on_null_ts"],
    },
    # map-only text scorers (wave-4 referees)
    "language_id": {
        "referee": [f"{D4}::test_language_id_matches_bruteforce"],
        "property": [f"{PLAN}::test_text_pipeline_queries_are_map_only",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "quality_score": {
        "referee": [f"{D4}::test_quality_score_matches_bruteforce"],
        "property": [f"{PLAN}::test_text_pipeline_queries_are_map_only",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "token_count": {
        "referee": [f"{D4}::test_token_count_matches_bruteforce"],
        "property": [f"{PLAN}::test_text_pipeline_queries_are_map_only",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "doc_fingerprint": {
        "referee": [f"{D4}::test_doc_fingerprint_matches_bruteforce"],
        "property": [f"{PLAN}::test_text_pipeline_queries_are_map_only"],
    },
    "exact_dedup": {
        "referee": [f"{D4}::test_exact_dedup_matches_bruteforce"],
        "property": ["tests/test_scale_smoke_corpus.py::test_exact_dedup_at_volume"],
    },
    "corpus_clean": {
        "referee": [f"{D4}::test_corpus_clean_matches_bruteforce"],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "top_docs_per_lang": {
        "referee": [f"{D4}::test_top_docs_per_lang_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "bigram_counts": {
        "referee": [f"{D4}::test_bigram_counts_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "vocab_oov_stats": {
        "referee": [f"{D4}::test_vocab_oov_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "top_sources_agg": {
        "referee": [f"{D4}::test_top_sources_agg_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "dataset_card": {
        "referee": [f"{D4}::test_dataset_card_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "canonicalize_text": {
        "referee": [f"{D3}::test_canonicalize_text_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "chunk_documents": {
        "referee": [f"{FN}::test_chunk_tokens_boundaries"],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "pii_redact": {
        "referee": [f"{FN}::test_redact_pii_counts_and_placeholders"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "repetition_signals": {
        "referee": [
            f"{D3}::test_repetition_signals_matches_bruteforce",
            "tests/test_pipeline_ops_properties.py::test_repetition_signals_matches_python_replica",
        ],
        "property": [f"{PLAN}::test_repetition_and_sampling_are_map_only",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "dup_window_ratio": {
        "referee": [
            f"{D1}::test_dup_window_ratio_matches_bruteforce",
            "tests/test_text_pipeline_ops.py::test_duplicated_window_ratio_planted_boilerplate",
        ],
        "property": [f"{PLAN}::test_dup_window_ratio_hash_keys_only",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    # sampling / splits
    "hash_sample": {
        "referee": [
            f"{D2}::test_hash_sample_matches_bruteforce",
            "tests/test_pipeline_ops_properties.py::test_hash_sample_bucket_matches_python_replica",
        ],
        "property": [f"{D2}::test_salted_bucket_families_are_independent"],
    },
    "split_assign": {
        "referee": [f"{D2}::test_split_assign_matches_bruteforce"],
        "property": ["tests/test_sketches.py::test_split_assign_partitions_everything"],
    },
    "stratified_sample": {
        "referee": [f"{D2}::test_stratified_sample_matches_bruteforce"],
        "property": ["tests/test_pipeline_ops_properties.py::test_stratified_sample_multiplicity_is_floor_or_ceil"],
    },
    "negative_sampling": {
        "referee": [f"{D2}::test_negative_sampling_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "split_leakage": {
        "referee": [
            f"{D1}::test_split_leakage_matches_bruteforce",
            "tests/test_linkage_audit.py::test_split_leakage_counts_cross_split_windows",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    # scoring / LM / retrieval
    "tfidf_top_terms": {
        "referee": [f"{D2}::test_tfidf_top_terms_matches_bruteforce"],
        "property": [f"{PLAN}::test_tfidf_join_is_broadcast",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "lm_doc_score": {
        "referee": [f"{D2}::test_lm_doc_score_matches_bruteforce"],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "length_buckets": {
        "referee": [f"{D2}::test_length_buckets_matches_bruteforce"],
        "property": ["tests/test_sketches.py::test_length_buckets_match_token_counts",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "bigram_lm": {
        "referee": [
            f"{D1}::test_bigram_lm_matches_bruteforce",
            "tests/test_retrieval_chunking.py::test_bigram_lm_counts_and_smoothing",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "bm25_rank": {
        "referee": [
            f"{D1}::test_bm25_rank_matches_bruteforce_bitexact",
            "tests/test_retrieval_chunking.py::test_bm25_ranks_matching_docs_first",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "term_pmi": {
        "referee": [
            f"{D1}::test_term_pmi_matches_bruteforce",
            "tests/test_linkage_audit.py::test_term_pmi_tiny_corpus",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "global_rank": {
        "referee": [
            f"{D2}::test_global_rank_matches_bruteforce_sf",
            "tests/test_pipeline_ops_properties.py::test_global_row_number_matches_sorted_enumerate",
        ],
        "property": [f"{PLAN}::test_global_rank_avoids_single_partition_sort"],
    },
    "bpe_first_merges": {
        "referee": [f"{D2}::test_bpe_first_merges_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    # chunking / packing / decontamination
    "cdc_chunks": {
        "referee": [
            f"{D1}::test_cdc_chunks_matches_bruteforce",
            "tests/test_properties_round4.py::test_cdc_chunks_equal_reference_on_edge_corpus",
        ],
        "property": ["tests/test_properties_round4.py::test_cdc_chunks_always_partition"],
    },
    "pack_token_budget": {
        "referee": [f"{D1}::test_pack_token_budget_matches_bruteforce"],
        "property": ["tests/test_decontaminate_pack.py::test_pack_token_budget_single_shuffle",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    "decontaminate": {
        "referee": [f"{D3}::test_decontaminate_matches_bruteforce"],
        "property": ["tests/test_decontaminate_pack.py::test_decontaminate_plan_is_broadcast_no_corpus_shuffle"],
    },
    # dedup family
    "minhash_lsh_pairs": {
        "referee": [
            "tests/test_scale_smoke_corpus.py::test_minhash_finds_planted_copies_at_volume",
            "tests/test_bloom_calibration.py::test_calibration_est_matches_lsh_operator",
        ],
        "property": ["tests/test_dedup_kernels.py::test_arrow_and_expr_signatures_identical"],
    },
    "ngram_jaccard_pairs": {
        "referee": ["tests/test_dedup_kernels.py::test_hset_kernel_matches_distinct_shingle_hashes"],
        "property": ["tests/test_winnowing.py::test_plan_has_no_cartesian"],
    },
    "simhash_signatures": {
        "referee": ["tests/test_simhash_pairs.py::test_planted_near_duplicate_found"],
        "property": ["tests/test_simhash_pairs.py::test_kernel_and_expression_signatures_identical"],
    },
    "simhash_hamming_pairs": {
        "referee": ["tests/test_simhash_pairs.py::test_banded_pairs_equal_brute_force"],
        "property": [
            f"{PLAN}::test_simhash_hamming_pairs_join_side_pure_jvm",
            "tests/test_scale_smoke_corpus.py::test_simhash_hamming_pairs_at_volume",
        ],
    },
    "winnow_span_pairs": {
        "referee": [
            f"{D1}::test_winnow_pairs_matches_bruteforce",
            "tests/test_winnowing.py::test_shared_substring_guarantee",
        ],
        "property": ["tests/test_winnowing.py::test_stop_fingerprint_cap"],
    },
    "sorted_neighborhood": {
        "referee": ["tests/test_retrieval_chunking.py::test_snm_finds_planted_neighbor"],
        "property": ["tests/test_retrieval_chunking.py::test_snm_respects_blocking"],
    },
    "edit_distance_pairs": {
        "referee": [f"{D2}::test_edit_distance_pairs_matches_dp_sf"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "prefix_jaccard_join": {
        "referee": ["tests/test_linkage_audit.py::test_prefix_join_complete_vs_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "dedup_labels": {
        "referee": [
            "tests/test_dedup_clusters.py::test_clusters_match_union_find_on_chain_graph",
            "tests/test_dedup_clusters.py::test_clusters_on_real_minhash_pairs",
        ],
        "property": [
            f"{PLAN}::test_dedup_labels_consumers_read_materialized_relation",
            "tests/test_dedup_clusters.py::test_dedup_labels_refresh_releases_blocks",
        ],
    },
    "dedup_clusters": {
        "referee": ["tests/test_dedup_clusters.py::test_clusters_match_union_find_on_chain_graph"],
        "property": [f"{PLAN9}::test_plan_contract", f"{LAT_G}::test_duplicate_clusters_null_ids_cannot_participate"],
    },
    "dedup_keep_best": {
        "referee": ["tests/test_dedup_clusters.py::test_canonical_representatives_collapse_corpus"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "dedup_pipeline_report": {
        "referee": [
            f"{D4}::test_dedup_pipeline_report_stage_laws",
            "tests/test_dedup_clusters.py::test_clusters_match_union_find_on_chain_graph",
        ],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "minhash_calibration": {
        "referee": [
            "tests/test_bloom_calibration.py::test_calibration_error_is_bounded_on_corpus",
            "tests/test_bloom_calibration.py::test_calibration_identical_docs_score_1000",
        ],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    # similarity / ANN / clustering
    "cosine_topk": {
        "referee": ["tests/test_similarity.py::test_cosine_topk_exact_neighbors"],
        "property": [f"{PLAN8}::test_plan_contract", f"{JUNK}"],
    },
    "embedding_neardup": {
        "referee": [
            "tests/test_similarity.py::test_neardup_precision_is_exact",
            "tests/test_similarity.py::test_neardup_finds_exact_duplicates",
        ],
        "property": [
            "tests/test_similarity.py::test_neardup_plan_has_no_nested_loop",
            "tests/test_similarity.py::test_neardup_kernels_match_expression_path",
            f"{JUNK}",
        ],
    },
    "lsh_bucket_topk": {
        "referee": ["tests/test_ann_recall.py::test_lsh_single_band_documented_regime_limit"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "lsh_multiband_topk": {
        "referee": ["tests/test_ann_recall.py::test_lsh_multiband_recall_high_similarity"],
        "property": ["tests/test_similarity.py::test_multiband_families_are_independent"],
    },
    "ivf_topk": {
        "referee": [
            "tests/test_ann_recall.py::test_ivf_recall_at_contract_settings",
            "tests/test_similarity.py::test_ivf_matches_windowed_reference",
        ],
        "property": ["tests/test_similarity.py::test_ivf_assignment_is_map_only"],
    },
    "quantize_embeddings": {
        "referee": [f"{D3}::test_quantize_embeddings_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "knn_classify": {
        "referee": [f"{D4}::test_knn_classify_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract", f"{JUNK}"],
    },
    "knn_confusion": {
        "referee": [f"{D4}::test_knn_confusion_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract", f"{JUNK}"],
    },
    "kmeans_clusters": {
        "referee": [
            f"{D4}::test_kmeans_clusters_matches_bruteforce",
            "tests/test_clustering.py::test_assign_kernel_bitequal_expression_path",
        ],
        "property": [
            f"{PLAN}::test_kmeans_assignment_plan_by_k",
            "tests/test_clustering.py::test_partitioning_invariance",
        ],
    },
    "semdedup_prune": {
        "referee": ["tests/test_clustering.py::test_semdedup_drops_copy_keeps_source"],
        "property": ["tests/test_scale_smoke_corpus.py::test_kmeans_and_semdedup_at_volume", f"{JUNK}"],
    },
    "cluster_balance": {
        "referee": [f"{D4}::test_cluster_balance_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "label_centroids": {
        "referee": ["tests/test_sketches.py::test_label_centroids_single_vector_identity"],
        "property": ["tests/test_sketches.py::test_label_centroids_shape_and_invariants"],
    },
    # sketches
    "hll_distinct": {
        "referee": [
            f"{D1}::test_hll_distinct_matches_bruteforce",
            "tests/test_sketches.py::test_hll_accuracy_synthetic",
        ],
        "property": ["tests/test_sketches.py::test_hll_small_range_linear_counting", "tests/test_sketches.py::test_hll_register_bounds"],
    },
    "hll_union": {
        "referee": [
            f"{D2}::test_hll_union_pairs_matches_bruteforce",
            "tests/test_sketches.py::test_hll_union_merge_equals_direct_union_sketch",
        ],
        "property": ["tests/test_sketches.py::test_hll_small_range_linear_counting", f"{PLAN8}::test_plan_contract"],
    },
    "cms_heavy_hitters": {
        "referee": [
            f"{D3}::test_cms_heavy_hitters_matches_bruteforce_sf",
            f"{D1}::test_cms_estimate_matches_bruteforce",
        ],
        "property": ["tests/test_sketches.py::test_cms_null_terms_never_enter_counters", 
            f"{PLAN}::test_cms_heavy_hitters_topk_never_global_sorts",
            "tests/test_stream_analytics.py::test_cms_never_undercounts",
        ],
    },
    "kmv_intersection": {
        "referee": [
            f"{D1}::test_kmv_intersection_matches_bruteforce",
            "tests/test_sketches.py::test_kmv_exact_below_k",
        ],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "bloom_join_filter": {
        "referee": [
            "tests/test_bloom_calibration.py::test_bloom_no_false_negatives",
            "tests/test_bloom_calibration.py::test_bloom_text_fp_rate_matches_theory",
        ],
        "property": ["tests/test_bloom_calibration.py::test_bloom_plan_corpus_never_shuffles"],
    },
    # graph
    "triangle_count": {
        "referee": [
            f"{D1}::test_triangle_count_matches_bruteforce",
            "tests/test_graph.py::test_triangle_matches_bruteforce",
        ],
        "property": [f"{PLAN8}::test_plan_contract", f"{LAT_G}::test_triangle_count_null_edges_inert"],
    },
    "pagerank_nations": {
        "referee": [
            f"{D1}::test_pagerank_matches_bruteforce",
            "tests/test_graph.py::test_pagerank_matches_python_replica",
        ],
        "property": [f"{PLAN8}::test_plan_contract", f"{LAT_G}::test_pagerank_null_edges_do_not_move_real_ranks"],
    },
    "kcore_3": {
        "referee": [
            f"{D1}::test_kcore_deep_peeling_matches_bruteforce",
            "tests/test_graph_temporal.py::test_kcore_contract_is_true_fixpoint",
        ],
        "property": [f"{PLAN8}::test_plan_contract", f"{LAT_G}::test_kcore_null_edges_inert"],
    },
    "component_sizes": {
        "referee": ["tests/test_dedup_clusters.py::test_clusters_match_union_find_on_chain_graph"],
        "property": [f"{PLAN8}::test_plan_contract", f"{LAT_G}::test_duplicate_clusters_null_ids_cannot_participate"],
    },
    "assortativity": {
        "referee": [f"{D1}::test_assortativity_matches_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract", f"{LAT_G}::test_assortativity_null_edges_inert"],
    },
    "copurchase_recs": {
        "referee": [f"{D2}::test_copurchase_recs_matches_bruteforce_sf"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    # funnels / sequences / temporal
    "window_funnel": {
        "referee": [f"{D1}::test_window_funnel_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_ts_anchor_does_not_pin_funnel_level", f"{PLAN}::test_window_funnel_single_shuffle"],
    },
    "funnel_conversion": {
        "referee": [
            f"{D1}::test_funnel_conversion_matches_bruteforce_with_level_gaps",
            "tests/test_funnel.py::test_funnel_conversion_monotone_and_consistent",
        ],
        "property": ["tests/test_funnel_latent_inputs.py::test_junk_rows_are_result_neutral_for_clean_streams", f"{PLAN8}::test_plan_contract"],
    },
    "event_transitions": {
        "referee": [
            f"{D1}::test_event_transitions_matches_bruteforce",
            "tests/test_stream_analytics.py::test_event_transitions_chain",
        ],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_ts_manufactures_no_transition", f"{PLAN9}::test_plan_contract"],
    },
    "last_touch": {
        "referee": [f"{D1}::test_last_touch_attribution_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_junk_rows_are_result_neutral_for_clean_streams", f"{PLAN9}::test_plan_contract"],
    },
    "event_pattern": {
        "referee": [f"{D1}::test_event_pattern_count_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_type_breaks_pattern_contiguity", f"{PLAN8}::test_plan_contract"],
    },
    "top_paths": {
        "referee": [
            f"{D1}::test_top_paths_matches_bruteforce",
            "tests/test_funnel.py::test_top_paths_counts_consecutive_triples",
        ],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_type_does_not_collide_paths", f"{PLAN8}::test_plan_contract"],
    },
    "cohort_retention": {
        "referee": [f"{D1}::test_cohort_retention_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_junk_rows_are_result_neutral_for_clean_streams", f"{PLAN}::test_cohort_retention_two_aggregation_shuffles"],
    },
    "conversion_latency": {
        "referee": [f"{D2}::test_conversion_latency_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "weekly_churn": {
        "referee": [f"{D2}::test_weekly_churn_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "value_histogram": {
        "referee": [f"{D1}::test_value_histogram_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_nan_value_excluded_from_histogram_and_folds", f"{PLAN9}::test_plan_contract"],
    },
    "histogram_quantiles": {
        "referee": [f"{D3}::test_histogram_quantiles_matches_bruteforce"],
        "property": [
            f"{PLAN}::test_histogram_quantiles_partial_agg_then_tiny_window",
            "tests/test_grouped.py::test_histogram_quantiles_ignores_null_and_nan",
            f"{LAT_S}::test_histogram_quantiles_caller_pattern_nan_safe",
        ],
    },
    "ewma_daily": {
        "referee": [
            f"{D1}::test_ewma_daily_matches_bruteforce_bitexact",
            "tests/test_funnel.py::test_ewma_daily_matches_python_fold",
        ],
        "property": ["tests/test_funnel_latent_inputs.py::test_null_ts_day_does_not_seed_ewma", f"{PLAN9}::test_plan_contract"],
    },
    "session_window_native": {
        "referee": [f"{D4}::test_session_windows_cross_proof_and_bruteforce"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "session_gaps": {
        "referee": [f"{D4}::test_session_windows_cross_proof_and_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "windowed_counts": {
        "referee": ["tests/test_streaming.py::test_windowed_counts_stream_matches_batch"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "asof_join": {
        "referee": [
            f"{D1}::test_asof_join_matches_bruteforce",
            "tests/test_asof.py::test_asof_join_semantics",
        ],
        "property": ["tests/test_asof.py::test_asof_junk_right_rows_never_match", "tests/test_asof.py::test_asof_join_single_shuffle"],
    },
    "range_join": {
        "referee": [
            f"{D1}::test_interval_join_matches_bruteforce",
            "tests/test_rangejoin.py::test_interval_join_containment",
        ],
        "property": ["tests/test_rangejoin.py::test_interval_join_degenerate_intervals_drop_quietly", "tests/test_rangejoin.py::test_interval_join_is_equi_join"],
    },
    "scd2_intervals": {
        "referee": [f"{D1}::test_scd2_intervals_matches_bruteforce"],
        "property": ["tests/test_graph_temporal.py::test_scd2_intervals_tile_without_overlap"],
    },
    "reset_running_total": {
        "referee": [f"{D1}::test_reset_running_total_matches_bruteforce"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "gap_fill_hourly": {
        "referee": [f"{D1}::test_gap_fill_hourly_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_gap_fill_drops_null_type_instead_of_zero_slot", f"{PLAN9}::test_plan_contract"],
    },
    "pit_enrich": {
        "referee": [f"{D2}::test_pit_enrich_matches_bruteforce_sf"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "state_dwell_time": {
        "referee": [f"{D2}::test_state_dwell_time_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "ohlc_hourly": {
        "referee": [
            f"{D2}::test_ohlc_hourly_matches_bruteforce_sf",
            "tests/test_stream_analytics.py::test_ohlc_bar_semantics",
        ],
        "property": [f"{PLAN9}::test_plan_contract", f"{LAT_S}::test_ohlc_junk_rows_do_not_poison_bars"],
    },
    "twap_by_type": {
        "referee": [f"{D3}::test_twap_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    # statistics
    "regression_stats": {
        "referee": [f"{D3}::test_regression_stats_matches_bruteforce_sf"],
        "property": [f"{PLAN}::test_regression_stats_single_aggregation_exchange"],
    },
    "robust_stats": {
        "referee": [f"{D2}::test_robust_stats_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "rolling_corr_7d": {
        "referee": [f"{D1}::test_rolling_corr_7d_matches_bruteforce"],
        "property": ["tests/test_funnel_latent_inputs.py::test_junk_rows_are_result_neutral_for_clean_streams", f"{PLAN9}::test_plan_contract"],
    },
    "contingency_chi2": {
        "referee": [f"{D2}::test_contingency_chi2_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "ab_test": {
        "referee": [f"{D2}::test_ab_test_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "zscore_outliers": {
        "referee": ["tests/test_stream_analytics.py::test_zscore_integer_predicate_matches_float_reference"],
        "property": [f"{PLAN}::test_zscore_moments_broadcast_back", f"{LAT_S}::test_zscore_junk_measurements_do_not_shift_moments"],
    },
    "pareto_frontier": {
        "referee": [
            f"{D1}::test_pareto_frontier_matches_bruteforce",
            "tests/test_stream_analytics.py::test_pareto_matches_bruteforce",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "pareto_8020": {
        "referee": [f"{D2}::test_pareto_8020_matches_bruteforce_sf"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "mixture_apportion": {
        "referee": [
            f"{D1}::test_mixture_apportion_matches_bruteforce",
            "tests/test_stream_analytics.py::test_apportionment_sums_exactly_to_budget",
        ],
        "property": ['tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs'],
    },
    "source_gini": {
        "referee": [f"{D1}::test_source_gini_matches_bruteforce"],
        "property": ["tests/test_linkage_audit.py::test_source_gini_bounds",
            'tests/test_empty_doc_parity.py::test_affected_pair_agrees_on_empty_docs',
        ],
    },
    # layout / storage
    "zorder_layout": {
        "referee": [
            f"{D1}::test_zorder_key_matches_bruteforce",
            "tests/test_properties_round4.py::test_zorder_spark_matches_python",
        ],
        "property": ["tests/test_properties_round4.py::test_zorder_key_bijective"],
    },
    "pruning_simulation": {
        "referee": ["tests/test_graph_temporal.py::test_zorder_scans_fewer_files_than_natural"],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "trigram_search": {
        "referee": ["tests/test_graph_temporal.py::test_trigram_search_equals_contains_scan"],
        "property": [f"{PLAN8}::test_plan_contract"],
    },
    "encoding_audit": {
        "referee": [
            f"{D3}::test_encoding_audit_matches_bruteforce_sf",
            "tests/test_graph_temporal.py::test_encoding_audit_varint_compresses_sorted_keys",
        ],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "table_profile": {
        "referee": ["tests/test_graph_temporal.py::test_profile_counts_nulls_and_distincts"],
        "property": ["tests/test_graph_temporal.py::test_profile_table_hostile_column_names"],
    },
    "salted_join_agg": {
        "referee": ["tests/test_scale_techniques.py::test_salted_join_preserves_semantics"],
        "property": [f"{PLAN}::test_salted_join_plan_replicates_small_side"],
    },
    # multimodal
    "media_decode_features": {
        "referee": [
            f"{MM}::test_decode_media_full_surface",
            f"{MM}::test_real_decode_wav_ppm_end_to_end",
        ],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "media_metadata_stats": {
        "referee": [f"{MM}::test_codec_roundtrips"],
        "property": [f"{MM}::test_metadata_stats_prunes_payload"],
    },
    "media_audio_energy": {
        "referee": [
            f"{MM}::test_audio_frame_energy_exact",
            "tests/test_pipeline_ops_properties.py::test_audio_frame_energy_matches_python_replica",
        ],
        "property": [f"{PLAN}::test_media_audio_energy_two_arrow_stages"],
    },
    "media_image_histogram": {
        "referee": [
            f"{MM}::test_image_histogram_counts_all_pixels",
            f"{MM}::test_codec_roundtrips",
        ],
        "property": [f"{PLAN9}::test_plan_contract"],
    },
    "media_png_histogram": {
        "referee": [
            f"{MM}::test_png_codec_roundtrip_all_filters",
            f"{MM}::test_png_histogram_conserves_pixels",
        ],
        "property": [f"{PLAN}::test_media_png_histogram_two_arrow_stages"],
    },
    "media_jpeg_histogram": {
        "referee": [
            f"{MM}::test_jpeg_ac_path_vs_independent_idct",
            f"{MM}::test_jpeg_constant_block_roundtrip_exact",
            f"{MM}::test_jpeg_histogram_conserves_pixels",
        ],
        "property": [f"{MM}::test_jpeg_corrupt_payloads_quarantined"],
    },
    "media_mp4_metadata": {
        "referee": [f"{MM}::test_mp4_box_metadata_roundtrip"],
        "property": [f"{MM}::test_jpeg_mp4_decoders_never_crash_on_fuzz"],
    },
    # streaming
    "streaming_upsert_state": {
        "referee": ["tests/test_streaming.py::test_streaming_upsert_state_batch_order_independent"],
        "property": [
            f"{PLAN}::test_streaming_upsert_state_reads_back_batch_plan",
            "tests/test_streaming.py::test_streaming_upsert_query_invocations_are_isolated",
        ],
    },
}


def _test_exists(ref: str) -> bool:
    path, _, name = ref.partition("::")
    full = os.path.join(REPO, path)
    if not name or not os.path.exists(full):
        return False
    with open(full) as fh:
        return re.search(rf"^\s*def {re.escape(name)}\(", fh.read(), re.M) is not None


def validate() -> list[str]:
    """Ledger invariants. Returns a list of violations (empty = OK)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    live = set(entry_mod.queries())
    problems = []
    ledger = set(LEDGER)
    for q in sorted(live - ledger):
        problems.append(f"query missing from ledger: {q}")
    for q in sorted(ledger - live):
        problems.append(f"stale ledger entry (not in contract): {q}")
    for q, ev in sorted(LEDGER.items()):
        if not ev.get("referee") and not ev.get("property"):
            problems.append(f"parity-only query (no referee, no property): {q}")
        for ref in ev.get("referee", []) + ev.get("property", []):
            if not _test_exists(ref):
                problems.append(f"{q}: cited test does not exist: {ref}")
    return problems


ARTIFACT_PATH = os.path.join(REPO, "REFEREE_COVERAGE.json")


def artifact_dict() -> dict:
    """The committed REFEREE_COVERAGE.json contents — generated here so
    the artifact can never drift from the authoritative LEDGER (the
    pytest twin asserts file == artifact_dict())."""
    return {
        "n_queries": len(LEDGER),
        "with_referee": sum(1 for ev in LEDGER.values() if ev["referee"]),
        "with_property": sum(1 for ev in LEDGER.values() if ev["property"]),
        "parity_only": sum(
            1 for ev in LEDGER.values() if not ev["referee"] and not ev["property"]
        ),
        "blanket_guards": [
            "tests/test_plan_shapes.py::test_no_cartesian_or_nested_loop_anywhere",
            "tests/test_oracle_parity.py::test_query_matches_oracle",
            "tools/make_manifest.py (full driver-protocol sweep)",
        ],
        "ledger": LEDGER,
    }


def main() -> int:
    if "--write" in sys.argv[1:]:
        with open(ARTIFACT_PATH, "w") as fh:
            json.dump(artifact_dict(), fh, indent=1, sort_keys=True)
        print(f"wrote {ARTIFACT_PATH}")
    problems = validate()
    n_ref = sum(1 for ev in LEDGER.values() if ev["referee"])
    n_prop = sum(1 for ev in LEDGER.values() if ev["property"])
    print(f"{'query':32s} referee                                property")
    for q, ev in sorted(LEDGER.items()):
        r = ev["referee"][0].split("::")[-1] if ev["referee"] else "-"
        p = ev["property"][0].split("::")[-1] if ev["property"] else "-"
        print(f"{q:32s} {r:38s} {p}")
    summary = {
        "n_queries": len(LEDGER),
        "with_referee": n_ref,
        "with_property": n_prop,
        "parity_only": sum(
            1 for ev in LEDGER.values() if not ev["referee"] and not ev["property"]
        ),
        "violations": problems,
    }
    print(json.dumps(summary))
    if problems:
        for p in problems:
            print(f"VIOLATION: {p}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
