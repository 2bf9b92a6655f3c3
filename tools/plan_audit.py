"""Physical-plan audit: measures the scale-relevant properties of each
headline query's plan — exchange (shuffle) count, join strategies,
whole-stage-codegen coverage, parquet filter pushdown, and read-schema
width. The numbers feed SCALE.md; re-run after plan-affecting changes.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "scan_filter_project", "window_dedup_latest", "cdc_router",
    "join_dim_broadcast", "scd2_merge", "latest_version_per_key",
    "dim_prep_lookup", "etl_csv_pipeline_full",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_cosine_topk", "embedding_lsh_topk", "embedding_ivf_topk",
    "embedding_topk_batched",
    "text_stats", "sessionize_events", "retention_latest_per_group",
    "topk_limit",
    "text_repetition_signals", "pii_redaction_scan",
    "stratified_sample_deterministic", "semi_anti_customers",
    # round 5
    "cohort_retention_weekly", "event_gap_detection",
    "deterministic_shuffle_order", "boilerplate_line_scrub",
    "temperature_mixture_sample", "curation_pipeline_full",
    # round 6
    "curated_corpus_roundtrip",
    "bloom_pruned_lineitem_join", "manifest_pruned_scan",
    "intra_doc_line_dedup", "gopher_quality_gate",
    "embedding_gram_matrix", "winnowing_contamination",
    "doc_length_quantiles", "leakage_safe_split_counts",
    "rare_token_quality_score", "bpe_pair_counts",
    "next_token_conditional_topk", "domain_blocklist_filter",
    "bpe_train_merges", "bpe_encode_token_counts",
    "cross_source_overlap", "source_dataset_card",
    "mad_length_outliers", "keyword_topic_tags",
    "pagerank_doc_links",
    # round 6, second wave
    "dup_span_stats", "dup_span_scrub_text", "neardup_topk_neighbors",
    "ngram_novelty_per_source", "curriculum_length_buckets",
    "order_priority_late_ship", "customer_order_distribution",
    "weighted_quality_sample", "minhash_estimator_calibration",
    "kmv_distinct_sketch_trigrams", "collocations_topk",
    "containment_neardup_pairs", "event_transition_matrix",
    "tokenizer_fertility_by_lang", "streaming_band_index_dedup",
    "event_rate_anomalies", "table_column_stats",
    "incremental_join_view_orders", "cms_heavy_hitters_tokens",
    "scd2_asof_snapshot",
    "ann_recall_calibration", "hard_negative_mining",
    "source_reconciliation_report", "embedding_degeneracy_stats",
    "jsonl_sink_roundtrip", "retrieval_mrr_by_label",
    "dedup_cluster_size_histogram", "value_dispersion_by_type",
    "scd2_vacuum_expired", "asof_join_forward_error",
    "grouped_mode_median_disc",
    "bigram_surprise_score", "join_skew_report",
    "dedup_survivorship_merge", "compaction_roundtrip",
    "minhash_vs_jaccard_eval",
    "tfidf_doc_similarity_topk", "length_drift_deciles",
    "conversion_latency_deciles", "session_basket_lift",
    "user_activity_streaks", "triangle_count_doc_links",
    "user_active_coverage", "winsorized_order_totals",
    "label_propagation_communities",
    "multimodal_grayscale", "balanced_token_shards",
    "multimodal_audio_mixdown", "pandas_udf_surface",
    "table_content_fingerprint", "dictionary_encode_roundtrip",
    "impute_missing_values", "time_weighted_average",
    "json_props_quarantine", "event_debounce_collapse",
    "streaming_kmv_trigram_sketch",
    "revenue_share_of_parent", "token_prefix_index",
    "purchase_attribution_last_touch", "rollup_consistency_check",
    "cogrouped_click_purchase", "business_days_to_ship",
    "self_similarity_decay", "hourweek_seasonality",
    "part_copurchase_topk", "ingestion_completeness_daily",
    "abc_part_classification", "largest_remainder_allocation",
    # round 7
    "hard_negative_mining_ann", "partial_stats_merge",
]


def audit(plan: str) -> dict:
    # Each physical node appears exactly ONCE as a detail-section
    # header '(N) NodeName' — counting those is the unit. (The old
    # bare `plan.count("Exchange")` counted every node TWICE — tree
    # line + detail header — and folded BroadcastExchange/
    # ReusedExchange into the shuffle count, inflating 'shuffles' by
    # 2-4x; verified against a 1-shuffle plan that reported 4.)
    names = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
              if p.strip()]
    part_filtered = [p for p in
                     re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
                     if p.strip()]
    read_cols = [s.count(",") + 1 for s in re.findall(r"ReadSchema: (\S+)", plan)]
    return {
        # Exchange = a real shuffle; broadcast/reused exchanges are
        # reported separately — they are not data shuffles.
        "exchanges": names.count("Exchange"),
        "broadcast_exchanges": names.count("BroadcastExchange"),
        "reused_exchanges": names.count("ReusedExchange"),
        "bhj": names.count("BroadcastHashJoin"),
        "smj": names.count("SortMergeJoin"),
        "total_nodes": len(names),
        "scans_with_pushdown": len(pushed),
        "partition_filtered_scans": len(part_filtered),
        "read_cols": read_cols,
    }


def main() -> None:
    from pyspark_etl_project_spark.plans import all_queries
    from pyspark_etl_project_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT
    spark = get_spark("plan-audit")
    qs = all_queries()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for n in names:
        if n not in qs:
            print(f"{n}: UNKNOWN")
            continue
        df = qs[n](spark, sf_dir)
        a = audit(df._jdf.queryExecution().explainString(mode))
        print(f"{n}: shuffles={a['exchanges']} "
              f"broadcast_exchanges={a['broadcast_exchanges']} "
              f"reused_exchanges={a['reused_exchanges']} "
              f"broadcast_joins={a['bhj']} "
              f"sortmerge_joins={a['smj']} nodes={a['total_nodes']} "
              f"pushdown_scans={a['scans_with_pushdown']} "
              f"partition_filtered_scans={a['partition_filtered_scans']} "
              f"read_cols={a['read_cols']}")
    spark.stop()


if __name__ == "__main__":
    main()
