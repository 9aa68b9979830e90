"""Regenerate the SCALE.md verified-plan-properties table.

Usage: python harness/audit_plans.py [--sf DIR] [name ...]
Prints a markdown table of audited physical-plan properties for the
named queries (default: the bench headline set + the TPC-H suite).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q10_returned_items", "q13_customer_distribution",
    "q18_large_orders", "q19_discounted_revenue", "q21_waiting_suppliers",
    "q_dedup_exact", "q_minhash_lsh_pairs", "q_cosine_topk",
    "q_ann_ivf_topk", "q_skew_salted_agg", "q_token_stats",
    "q_corpus_pipeline", "q_topk_per_group", "q_embedding_quantize",
    "q_asof_join_forward", "q_partition_pruned_scan",
    "q_simhash_near_pairs", "q_embedding_neardup_lsh",
    "q_ngram_jaccard_pairs", "q_row_range_scan",
    "q_semantic_dedup", "q_token_budget_sample", "q_sequence_pack",
    "q_shuffle_shards", "q_decontaminate", "q_paragraph_dedup",
    "q_zorder_scan", "q_bloom_point_lookup", "q_fuzzy_prefix_pairs",
    "q_fast_count", "q_time_travel", "q_null_semantics",
    "q_containment_pairs", "q_interpolate_linear", "q_asof_join_nearest",
    "q_weighted_sample", "q_balanced_mix", "q_nested_struct_roundtrip",
    "q_array_struct_roundtrip", "q_composite_cluster_scan", "q_cut_stripe_scan",
    "q_train_split", "q_doc_chunking", "q_bpe_merge_pairs",
    "q_embedding_covariance", "q_ann_recall_eval", "q_stats_moments",
    "q_try_arith", "q_bool_bitwise_agg", "q_rollup_cascade",
    "q_merge_into", "q_incremental_read", "q_update_where",
    "q_partition_overwrite", "q_type_widening", "q_skew_salted_join",
    "q_materialized_rollup", "q_pyds_pruned_scan", "q_pyds_write_roundtrip",
    "q_dataset_card", "q_tokenizer_vocab", "q_image_ahash", "q_video_motion",
    "q_audio_loudness", "q_pagerank", "q_decimal_roundtrip", "q_tpch_refresh",
    "q_sql_surface", "q_token_search", "q_tfidf_search", "q_rag_pipeline",
    "q_kmeans_iter", "q_layout_advice", "q_advice_applied",
    "q_incremental_dedup", "q_signature_index_probe", "q_kmv_ndv_sketch",
    "q_image_neardup", "q_ohlc_bars", "q_funnel_steps", "q_retention_cohorts",
    "q_hard_negative_mining", "q_temperature_mix", "q_value_outliers",
    "q_keyword_extract", "q_grouped_sample", "q_skew_report",
    "q_snapshot_diff", "q_mode_stats", "q_winsorized_stats",
    "q_pareto_concentration", "q_lang_confusion", "q_sequence_ngrams",
    "q_collocations", "q_anomaly_windows", "q_class_scatter",
    "q_quality_profile", "q_binary_roundtrip", "q_map_type_roundtrip",
    "q_fast_minmax",
    "q_serve_lookups", "q_cdc_commit_provenance", "q_dedup_columns_roundtrip",
    "q_snapshot_tag_read", "q_rollback_restore",
    "q_quantile_sketch_merge", "q_countmin_heavy_hitters",
    "q_kmv_set_ops", "q_bm25_search",
    "q_partitioned_merge", "q_partitioned_compaction", "q_recluster_scan",
    "q_maintenance_advice",
    "q_substring_dedup", "q_ann_adc_topk", "q_wide_feature_projection",
    "q_incremental_recluster", "q_clone_table", "q_clone_deepen",
    "q_auto_maintenance", "q_alter_schema",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from nimble_spark import get_spark
    from nimble_spark.plans.audit import audit
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    spark = get_spark("audit")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or [n for n in DEFAULT if n in QUERIES]
    print("| query | shuffles | bcast joins | SMJ/SHJ | cart/BNL | partial agg | pushed filters | codegen spans | py evals |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name in names:
        a = audit(QUERIES[name].fn(spark, args.sf))
        print(
            f"| {name} | {a.n_shuffles} | {a.n_broadcast_joins} "
            f"| {a.n_sort_merge_joins}/{a.n_shuffled_hash_joins} "
            f"| {a.n_cartesian}/{a.n_bnl_joins} "
            f"| {'✓' if a.has_partial_agg else '–'} "
            f"| {'✓' if a.has_pushed_filters else '–'} "
            f"| {a.n_codegen_spans} | {a.n_python_evals} |"
        )


if __name__ == "__main__":
    main()
