"""Per-query plan-shape pins — since round 17, for EVERY registered
query (PINS_R12/R13/R14 hold the original r15 census of the r12-r14
gate cohorts; PINS_REST covers the remainder, and a coverage test
keeps the union in lockstep with the registry).
Complements tests/test_plan_invariants.py (global anti-pattern sweep):
these pin each query's EXACT materialized-shuffle count and its EXACT
parquet ReadSchema column sets, so a regression that adds a shuffle or
widens a scan (e.g. dragging the documents text blob into a query that
only needs metadata) fails the moment it lands, not at its next gate
round.

Pins were generated from a plan census on the round-15 HEAD (every
query also DuckDB-oracle hash-verified the same day, 209/209) and are
asserted at sf0.001 under the shared test session (shuffle_partitions=4
— node counts are partition-count-independent; the census ran under the
same conf). An Exchange-count DECREASE also fails deliberately: a plan
improvement should be accompanied by re-pinning, keeping the ledger
honest the same way BNLJ_EXACT does.

ReadSchema sets are compared as an order-insensitive multiset of
column-name sets (Counter of frozensets — NOT sorted frozensets, whose
subset-partial-order __lt__ makes sorting non-canonical; r15 ADVICE):
scan order within the formatted plan is stable, but nothing in the pin
should depend on it.
"""

from __future__ import annotations

from collections import Counter

from conftest import formatted_plan, plan_nodes, read_schema_columns

SF_TINY = "/root/testdata/sf0.001"


def _facts(df) -> tuple[int, list[frozenset[str]]]:
    plan = formatted_plan(df)
    return plan_nodes(plan).count("Exchange"), read_schema_columns(plan)


def _check(spark, pins) -> list[str]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    bad = []
    for name, (want_ex, want_schemas) in pins.items():
        try:
            got_ex, got_sets = _facts(qs[name](spark, SF_TINY))
        except Exception as e:
            bad.append(f"{name}: failed to plan: {type(e).__name__}: {e}")
            continue
        if got_ex != want_ex:
            bad.append(f"{name}: Exchange count {got_ex} != {want_ex}")
        # '' pins the EMPTY column set (a count-only `ReadSchema:
        # struct<>` scan) — ''.split(',') would yield {''}, which no
        # real scan produces, so map it explicitly (r16 ADVICE).
        want_sets = [frozenset(s.split(",")) if s else frozenset()
                     for s in want_schemas]
        if Counter(got_sets) != Counter(want_sets):
            bad.append(f"{name}: ReadSchema sets "
                       f"{sorted(sorted(s) for s in got_sets)} != "
                       f"{sorted(sorted(s) for s in want_sets)}")
    return bad


# r12-evidence cohort: (exact Exchange count, exact ReadSchema sets)
PINS_R12 = {
    "business_days_to_ship": (2, ['o_orderkey,o_orderdate,o_orderpriority', 'l_orderkey,l_shipdate']),
    "cogrouped_click_purchase": (2, ['ts,user_id,event_type', 'ts,user_id,event_type']),
    "customer_order_distribution": (2, ['c_custkey', 'o_orderkey,o_custkey,o_orderpriority']),
    "event_rate_anomalies": (2, ['ts,event_type']),
    "event_transition_matrix": (3, ['event_id,ts,user_id,event_type']),
    "grouped_mode_median_disc": (2, []),
    "hourweek_seasonality": (2, []),
    "impute_missing_values": (2, []),
    "ingestion_completeness_daily": (2, ['ts']),
    "json_props_quarantine": (1, ['event_id,props']),
    "label_propagation_communities": (0, []),
    "multimodal_audio_mixdown": (0, ['doc_id']),
    "multimodal_grayscale": (0, ['doc_id']),
    "order_priority_late_ship": (1, ['o_orderkey,o_orderdate,o_orderpriority', 'l_orderkey,l_shipdate']),
    "part_copurchase_topk": (3, []),
    "purchase_attribution_last_touch": (2, ['event_id,ts,user_id,event_type']),
    "revenue_share_of_parent": (1, []),
    "rollup_consistency_check": (3, ['ts,value', 'ts,value']),
    "self_similarity_decay": (8, ['text', 'text', 'text', 'text']),
    "source_reconciliation_report": (3, ['o_orderkey,o_totalprice', 'o_orderkey,o_totalprice']),
    "table_content_fingerprint": (1, ['l_orderkey,l_linenumber,l_quantity,l_returnflag']),
    "tfidf_doc_similarity_topk": (5, []),
    "time_weighted_average": (1, ['event_id,ts,user_id,value']),
    "token_prefix_index": (2, []),
    "triangle_count_doc_links": (1, []),
    "user_active_coverage": (1, ['ts,user_id']),
    "user_activity_streaks": (2, ['ts,user_id']),
    "value_dispersion_by_type": (1, ['event_type,value']),
    "winsorized_order_totals": (3, []),
}


def test_r12_cohort_plan_shapes(spark):
    bad = _check(spark, PINS_R12)
    assert not bad, "\n".join(bad)


# r13-evidence cohort: (exact Exchange count, exact ReadSchema sets)
PINS_R13 = {
    "asof_join_forward_error": (1, ['event_id,ts,user_id,event_type', 'event_id,ts,user_id,event_type']),
    "asof_join_view_purchase": (1, ['event_id,ts,user_id,event_type', 'event_id,ts,user_id,event_type']),
    "balanced_token_shards": (5, ['doc_id,text']),
    "case_when_normalize": (0, ['o_orderkey,o_orderstatus,o_totalprice,o_orderpriority']),
    "compaction_roundtrip": (1, ['source,n_chars']),
    "dedup_levenshtein_prefix": (2, ['doc_id,text', 'doc_id,text']),
    "deterministic_shuffle_order": (4, ['doc_id']),
    "distinct_projection": (1, ['o_orderstatus,o_orderpriority']),
    "embedding_ivf_index_probe": (0, ['vec_id,embedding']),
    "embedding_quantized_rerank_topk": (0, ['vec_id,embedding']),
    "embedding_quantized_topk": (0, ['vec_id,embedding']),
    "embedding_topk_batched": (1, ['vec_id,embedding', 'vec_id,embedding']),
    "etl_csv_pipeline_full": (5, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "etl_csv_two_load_incremental": (6, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "etl_json_pipeline_full": (5, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority', 'o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "etl_xml_pipeline_full": (5, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority', 'o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "group_minmax_normalize": (1, ['event_id,event_type,value']),
    "multimodal_feature_extract": (0, ['doc_id,text']),
    "pii_redaction_scan": (0, ['event_id,props']),
    "range_join_event_intervals": (0, ['event_id', 's_suppkey']),
    "retention_latest_per_group": (1, ['event_id,event_type']),
    "salted_join_supplier_agg": (1, ['l_suppkey,l_quantity', 's_suppkey,s_nationkey']),
    "salted_skew_agg": (2, ['l_quantity,l_extendedprice,l_returnflag']),
    "scd2_asof_snapshot": (7, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "scd2_vacuum_expired": (6, ['o_orderkey,o_orderstatus,o_orderdate,o_orderpriority']),
    "scd2_vacuum_roundtrip": (0, ['csd_id,ssi,c_mktsegment,active_flag,START_DATE,END_DATE']),
    "scd2_vacuum_type_widened": (0, ['csd_id,ssi,END_DATE']),
    "streaming_band_index_compacted": (5, ['doc_id,band_id,band_hash', 'doc_id,text', 'doc_id,band_id,band_hash', 'doc_id,band_id,band_hash']),
    "streaming_dedup_within_watermark": (0, []),
    "streaming_scd2_merge": (0, ['csd_id,ssi,event_id,event_type,ACTIVE_FLAG,START_DATE,END_DATE']),
    "streaming_session_window": (0, []),
    "streaming_stateful_user_totals": (1, []),
    "streaming_static_enrich_agg": (0, []),
    "streaming_stream_stream_join": (0, []),
    "streaming_window_agg": (0, []),
    "timestamp_parse_roundtrip": (0, ['event_id,ts']),
    "vocab_top_tokens": (1, ['text']),
    "zorder_layout_sample": (0, ['l_orderkey,l_partkey,l_linenumber']),
}


def test_r13_cohort_plan_shapes(spark):
    bad = _check(spark, PINS_R13)
    assert not bad, "\n".join(bad)


# r14-evidence cohort: (exact Exchange count, exact ReadSchema sets)
PINS_R14 = {
    "boilerplate_line_scrub": (5, ['doc_id,text', 'doc_id,text']),
    "catalog_doc_coverage": (1, []),
    "catalog_domain_audit": (1, ['user_id,event_type,value']),
    "curation_pipeline_full": (2, ['doc_id,text']),
    "decontamination_overlap": (3, ['doc_id,text', 'doc_id,text', 'doc_id,text']),
    "dedup_cluster_canonical": (0, []),
    "dedup_embedding_threshold": (0, ['vec_id,embedding', 'vec_id,embedding', 'vec_id,embedding', 'vec_id,embedding']),
    "dedup_minhash_lsh": (1, ['doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text']),
    "dedup_ngram_jaccard": (3, []),
    "dedup_simhash": (2, ['doc_id,text']),
    "distinctive_terms_topk": (4, ['doc_id,text', 'doc_id,text']),
    "embedding_ivf_topk": (0, ['vec_id,embedding']),
    "embedding_lsh_topk": (0, ['vec_id,embedding']),
    "incremental_dedup_new_batch": (2, ['doc_id,text', 'doc_id,text']),
    "kmeans_refine_cells": (1, ['vec_id,embedding']),
    "multimodal_image_decode": (0, ['doc_id']),
    "multimodal_resize": (0, ['doc_id,text']),
    "observed_load_audit": (0, []),
    "pandas_udf_surface": (2, []),
    "python_datasource_scan": (1, ['doc_id,lang,n_tokens,checksum']),
    "schema_evolution_read": (0, ['o_orderkey,o_custkey,o_price_cents']),
    "text_repetition_signals": (2, ['doc_id,text']),
}


def test_r14_cohort_plan_shapes(spark):
    bad = _check(spark, PINS_R14)
    assert not bad, "\n".join(bad)


# Every remaining registered query — the r15/r16 gate cohorts plus
# earlier queries that only had the global anti-pattern sweep. Pinned
# so the byte-stable endgame rounds (r18-r20) catch ANY plan drift —
# a shuffle added, a scan widened — the moment it lands, not at the
# query's next gate round. Generated by tools/pin_census.py on the
# round-17 HEAD (same config as this suite: sf0.001,
# shuffle_partitions=4), the same day the full registry was
# triple-SF oracle-verified (0 failures at sf0.001/0.01/0.1).
PINS_REST = {
    "abc_part_classification": (2, []),
    "ann_recall_calibration": (4, ['embedding,vec_id', 'embedding,vec_id']),
    "array_higher_order_stats": (0, ['embedding,vec_id']),
    "bigram_surprise_score": (3, []),
    "bloom_pruned_lineitem_join": (2, ['l_orderkey,l_quantity,l_returnflag', 'o_orderkey,o_orderpriority,o_totalprice']),
    "bpe_encode_token_counts": (1, []),
    "bpe_pair_counts": (2, ['text']),
    "bpe_train_merges": (0, []),
    "cdc_router": (0, ['o_orderkey,o_orderpriority,o_orderstatus', 'o_orderkey,o_orderpriority,o_orderstatus']),
    "char_length_histogram": (1, ['lang,n_chars']),
    "cms_heavy_hitters_tokens": (2, []),
    "cohort_retention_weekly": (3, ['ts,user_id', 'ts,user_id']),
    "collocations_topk": (3, ['text', 'text']),
    "containment_neardup_pairs": (3, []),
    "context_window_chunks": (0, ['doc_id,text']),
    "conversion_latency_deciles": (3, ['event_type,ts,user_id', 'event_type,ts,user_id']),
    # r18: per-fp collect_set shape — distinct + self-join exchanges gone
    "cross_source_overlap": (3, []),
    "cube_event_stats": (1, ['event_type,user_id,value']),
    "cumulative_user_value": (1, ['event_id,ts,user_id,value']),
    "curated_corpus_roundtrip": (1, ['doc_id,n_tokens', 'lang,n_docs,split,total_tokens', 'lang,n_docs,split,total_tokens']),
    "curriculum_length_buckets": (6, ['doc_id,text', '']),
    "dedup_cluster_size_histogram": (2, []),
    "dedup_exact": (1, ['doc_id,text']),
    "dedup_survivorship_merge": (2, ['doc_id,text', 'source,text']),
    "deterministic_split_counts": (1, ['doc_id']),
    "dictionary_encode_roundtrip": (2, ['event_type']),
    # r18: single_partition=False for the fact-scale input (r17 ADVICE)
    # restores the key exchange so the dedup window parallelizes.
    "dim_prep_lookup": (1, ['c_custkey,c_name', 'o_custkey,o_orderdate,o_orderkey,o_orderstatus', 'c_acctbal,c_custkey']),
    "distinct_counts_per_group": (2, ['event_type,user_id,value']),
    "doc_fingerprint_winnowing": (0, ['doc_id,text']),
    "doc_length_quantiles": (4, ['doc_id,text']),
    "domain_blocklist_filter": (3, ['doc_id']),
    "dup_span_scrub_text": (3, ['doc_id,text', 'doc_id,text']),
    "dup_span_stats": (2, []),
    "embedding_cosine_topk": (0, ['embedding,vec_id']),
    "embedding_degeneracy_stats": (1, ['embedding,label']),
    "embedding_gram_matrix": (1, ['embedding']),
    "event_debounce_collapse": (3, []),
    "event_gap_detection": (1, ['event_id,ts,user_id']),
    "funnel_user_stages": (5, ['event_type,ts,user_id', 'event_type,ts,user_id', 'event_type,ts,user_id', 'event_type,ts,user_id', 'event_type,ts,user_id', 'event_type,ts,user_id']),
    "global_sort": (1, ['n_name,n_nationkey,n_regionkey']),
    "gopher_quality_gate": (0, ['doc_id,text']),
    "grouping_sets_flag_status": (1, ['l_linestatus,l_quantity,l_returnflag']),
    "hard_negative_mining": (1, ['embedding,label,vec_id', 'embedding,label,vec_id']),
    "hard_negative_mining_ann": (5, ['embedding,label,vec_id', 'embedding,label,vec_id', 'embedding,label,vec_id']),
    "incremental_agg_merge": (3, ['event_id,event_type,value', 'event_id,event_type,value', 'event_id,event_type,value']),
    "incremental_join_view_orders": (0, ['o_custkey,o_orderkey,o_totalprice', 'c_custkey,c_name,c_nationkey', 'o_custkey,o_orderkey,o_totalprice', 'c_custkey,c_name,c_nationkey']),
    "incremental_neardup_new_batch": (8, ['doc_id', 'doc_id', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text', 'doc_id,text']),
    "intra_doc_line_dedup": (0, ['doc_id,text']),
    "join_dim_broadcast": (1, ['l_discount,l_extendedprice,l_suppkey', 's_nationkey,s_suppkey', 'n_nationkey,n_regionkey', 'r_name,r_regionkey']),
    "join_skew_report": (12, []),
    "json_props_extract": (1, ['event_type,props']),
    "jsonl_sink_roundtrip": (1, ['doc_id,source,text']),
    "keyword_topic_tags": (2, ['doc_id,text']),
    "kmv_distinct_sketch_trigrams": (4, ['source,text', 'source,text']),
    "lang_id_heuristic": (0, ['doc_id,lang,text']),
    "largest_remainder_allocation": (2, []),
    "lateral_topk_per_order": (2, ['o_orderkey', 'l_extendedprice,l_linenumber,l_orderkey']),
    "latest_version_per_key": (2, ['event_id,event_type,user_id,value', 'event_id']),
    "leakage_safe_split_counts": (2, []),
    "length_drift_deciles": (4, ['n_chars,source', 'n_chars,source']),
    "load_audit_metrics": (1, ['o_orderstatus,o_totalprice']),
    "mad_length_outliers": (4, []),
    "manifest_pruned_scan": (1, ['doc_id,n_chars,source']),
    "minhash_estimator_calibration": (1, []),
    "minhash_vs_jaccard_eval": (7, []),
    "moving_sum_time_range": (1, ['event_id,ts,user_id,value']),
    "multimodal_frame_sample": (0, ['doc_id,text']),
    "multimodal_jpeg_decode": (0, ['doc_id']),
    "multimodal_png_decode": (0, ['doc_id']),
    "multimodal_video_decode": (0, ['doc_id']),
    "multimodal_wav_decode": (0, ['doc_id']),
    "neardup_topk_neighbors": (4, []),
    "next_token_conditional_topk": (2, ['text']),
    "ngram_novelty_per_source": (2, ['source,text']),
    "order_line_revenue_share": (1, ['l_extendedprice,l_linenumber,l_orderkey']),
    "pack_documents_bins": (1, ['doc_id,lang,text']),
    "pagerank_doc_links": (0, []),
    # r18: one shared lazy localCheckpoint of the (part, cents, flag)
    # projection feeds partials AND direct — the 8 per-branch parquet
    # scans became ExistingRDD reads (no ReadSchema), parquet read once.
    "partial_stats_merge": (16, []),
    "percentile_profile": (1, ['l_quantity,l_returnflag']),
    "pipe_syntax_pricing": (1, ['l_orderkey,l_quantity,l_returnflag']),
    "pivot_event_counts": (2, ['event_type,user_id']),
    "pricing_summary": (1, ['l_discount,l_extendedprice,l_linestatus,l_quantity,l_returnflag,l_shipdate']),
    "promo_revenue_split": (1, ['l_discount,l_extendedprice,l_partkey,l_shipdate', 'p_partkey,p_type']),
    "rare_token_quality_score": (4, []),
    "resample_daily_ffill": (2, ['ts,user_id', 'event_id,ts,user_id,value']),
    "retrieval_mrr_by_label": (1, ['embedding,vec_id', 'label,vec_id']),
    "revenue_by_nation_year": (1, ['c_custkey,c_nationkey', 'o_custkey,o_orderdate,o_orderkey', 'l_discount,l_extendedprice,l_orderkey', 'n_name,n_nationkey']),
    # r18: Expand-free rollup — finest-level agg localCheckpoint (scan
    # happens once into the ExistingRDD, hence no ReadSchema) + three
    # tiny re-agg exchanges over the 6-row intermediate.
    "rollup_flag_status": (3, []),
    "scan_filter_project": (0, ['l_extendedprice,l_linenumber,l_orderkey,l_quantity,l_shipdate']),
    "scd2_merge": (5, ['c_custkey,c_mktsegment,c_name', 'c_custkey,c_mktsegment,c_name', 'c_custkey,c_mktsegment,c_name']),
    "semi_anti_customers": (0, ['c_custkey,c_name', 'o_custkey,o_orderpriority', 'c_custkey,c_name', 'o_custkey,o_orderdate']),
    "session_basket_lift": (7, []),
    "session_window_native": (1, ['ts,user_id']),
    "sessionize_events": (1, ['event_id,ts,user_id']),
    "set_ops_user_activity": (9, ['event_id,user_id', 'event_id,user_id', 'event_id,user_id', 'event_id,user_id', 'event_id,user_id', 'event_id,user_id']),
    "source_dataset_card": (2, ['lang,source,text']),
    "source_quota_sample": (1, ['doc_id,lang,source']),
    "stratified_sample_deterministic": (0, ['doc_id,lang']),
    "streaming_band_index_dedup": (5, ['band_hash,band_id,doc_id', 'doc_id,text', 'band_hash,band_id,doc_id', 'band_hash,band_id,doc_id']),
    "streaming_kmv_store_compacted": (3, ['doc_id,text', 'h']),
    "streaming_kmv_trigram_sketch": (3, ['doc_id,text', 'h']),
    "table_column_stats": (8, ['l_quantity', 'l_returnflag', 'l_shipdate', 'l_extendedprice']),
    "temperature_mixture_sample": (4, ['doc_id,source', 'source', 'source']),
    "text_stats": (0, ['doc_id,text']),
    "tokenizer_fertility_by_lang": (1, ['text']),
    "top_unshipped_orders": (1, ['c_custkey,c_mktsegment', 'o_custkey,o_orderdate,o_orderkey,o_orderpriority', 'l_discount,l_extendedprice,l_orderkey,l_shipdate']),
    "topk_limit": (0, ['p_name,p_partkey,p_retailprice,p_size']),
    "udtf_sentence_split": (0, ['doc_id,text']),
    "unpivot_lineitem_measures": (1, ['l_discount,l_extendedprice,l_orderkey,l_quantity']),
    "url_canonical_dedup": (2, ['doc_id']),
    "user_event_type_sets": (2, ['event_type,user_id']),
    "validity_flag": (0, ['l_linenumber,l_linestatus,l_orderkey,l_quantity,l_returnflag']),
    "variant_props_extract": (1, ['event_type,props']),
    "weighted_quality_sample": (0, ['doc_id,source,text']),
    "window_dedup_latest": (1, ['event_id,event_type,ts,user_id']),
    "window_dedup_latest_maxby": (1, ['event_id,event_type,props,ts,user_id,value']),
    "window_distribution_functions": (1, ['l_linenumber,l_orderkey,l_quantity']),
    "window_rank_functions": (1, ['event_id,event_type,user_id,value']),
    "window_value_functions": (1, ['l_linenumber,l_orderkey,l_quantity']),
    "winnowing_contamination": (2, ['doc_id,text', 'doc_id,text', 'doc_id,text']),
}


def test_rest_plan_shapes(spark):
    bad = _check(spark, PINS_REST)
    assert not bad, "\n".join(bad)


def test_pin_suites_cover_entire_registry():
    """The four pin dicts together must cover every registered query
    exactly once — a new query must be pinned (or deliberately added
    here) and a de-registered one must drop its pin, keeping the
    plan-shape ledger in lockstep with the registry."""
    import __spark_entry__ as entrymod

    pinned = {}
    for d in (PINS_R12, PINS_R13, PINS_R14, PINS_REST):
        for name in d:
            pinned[name] = pinned.get(name, 0) + 1
    dupes = sorted(n for n, c in pinned.items() if c > 1)
    assert not dupes, f"queries pinned twice: {dupes}"
    registry = set(entrymod.queries())
    missing = sorted(registry - set(pinned))
    extra = sorted(set(pinned) - registry)
    assert not missing, f"registered but unpinned: {missing}"
    assert not extra, f"pinned but not registered: {extra}"
