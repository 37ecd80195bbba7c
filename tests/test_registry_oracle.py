"""The driver's correctness gate as a parametrized test: every registry
query runs on Spark and its DuckDB oracle twin at sf0.001, compared on
schema + rowcount + order-insensitive values."""

from __future__ import annotations

import pytest

from smartpool_bigdata_spark.queries import REGISTRY
from tests.conftest import (
    SF_DIR,
    assert_matches_oracle,
    compare_snapshot_to_oracle,
    spark_snapshot,
)

# Queries whose build must run alone: jdbc_live_roundtrip boots the
# embedded Derby engine and must set its system properties before any
# other Derby use in the JVM (conftest gotcha), and the Python
# data-source queries race spark.dataSource.register against concurrent
# lookups (observed: DATA_SOURCE_NOT_FOUND for 'ledger' under the pool).
_SERIAL_FIRST = (
    "jdbc_live_roundtrip",
    "sensor_feed_stats",
    "sensor_feed_stream_stats",
    "ledger_roundtrip_stats",
    "ledger_time_travel_stats",
    "ledger_vacuum_stats",
)


def test_query_matches_oracle(spark, duck):
    """The driver's correctness gate over the FULL registry. The Spark
    side of every query is evaluated CONCURRENTLY from a small thread
    pool (guide §2.6 — independent actions overlap inside one session;
    r13: this sweep ran the 293 queries sequentially and dominated the
    suite wall time); the DuckDB oracle runs + comparisons stay on the
    main thread (duckdb connections are not thread-safe). Coverage is
    unchanged: same queries, same row/schema/type/value comparison."""
    from concurrent.futures import ThreadPoolExecutor

    names = [n for n in sorted(REGISTRY) if n not in _SERIAL_FIRST]

    def _spark_side(name):
        # Any error (Py4J, analysis, I/O) fails this query alone instead
        # of aborting the sweep.
        q = REGISTRY[name]
        try:
            sdf = q.build(spark, SF_DIR)
            if q.oracle is None:
                return name, None, sdf.count(), None
            return name, spark_snapshot(sdf), None, None
        except Exception as exc:
            return name, None, None, f"spark side: {type(exc).__name__}: {exc}"

    results = [_spark_side(n) for n in _SERIAL_FIRST if n in REGISTRY]
    with ThreadPoolExecutor(max_workers=12) as pool:
        results += list(pool.map(_spark_side, names))

    failures = {}
    for name, snapshot, rowcount, error in results:
        q = REGISTRY[name]
        try:
            if error is not None:
                raise AssertionError(error)
            if snapshot is None:
                assert rowcount >= 0  # rows-only check, like the driver
            else:
                compare_snapshot_to_oracle(snapshot, duck, q.oracle)
        except Exception as exc:  # collect all (DuckDB errors too), report together
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
    assert not failures, f"{len(failures)} queries off oracle: {failures}"


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)


# The 50 queries that held the driver window in round 3 (all green in
# CORRECTNESS_r03.json).
R3_WINDOW = frozenset({
    "pricing_summary", "daily_event_stats", "order_priority_pivot",
    "ingest_watermark", "latest_order_per_customer", "top_orders_per_priority",
    "peak_event_hours", "customer_order_summary", "segment_fee_model",
    "event_orphan_users", "events_from_customers", "hourly_value_deviation",
    "event_cost_model", "event_range_flags", "active_ids_union",
    "order_dup_check", "event_null_profile", "urgent_open_orders",
    "allowed_event_types", "top_value_orders", "event_hourly_window",
    "event_projection_normalize", "stream_event_hourly_window",
    "stream_dedup_events", "stream_user_sessions",
    "stream_static_segment_counts", "csv_landing_daily_stats",
    "incremental_keyset_roundtrip", "medallion_gold_daily",
    "doc_text_quality", "doc_exact_dedup", "doc_train_split",
    "doc_fingerprint_dedup", "doc_token_percentiles", "doc_chunks",
    "chunk_packing", "doc_near_dup_pairs", "doc_dup_clusters",
    "doc_dedup_survivors", "doc_signatures", "doc_signature_table_pairs",
    "doc_simhash_near_dup", "doc_language_guess", "doc_quality_filter",
    "multimodal_byte_features", "knn_brute_force", "knn_ivf",
    "knn_ivf_multiprobe", "embedding_near_dup", "embedding_dup_clusters",
})


# The 50 queries that held the driver window in round 4 (all green in
# CORRECTNESS_r04.json).
R4_WINDOW = frozenset({
    "event_type_stats_salted", "events_asof_reference_value", "user_sessions",
    "event_type_rollup", "purchase_running_total",
    "active_without_purchase_last_day", "event_user_skew_profile",
    "user_session_windows", "orders_with_late_shipments",
    "brand_small_qty_revenue", "event_type_hour_cube", "views_before_purchase",
    "priority_revenue_salted_join", "user_distinct_hll", "event_props_parsed",
    "order_value_window_stats", "repeat_purchasers_first_last_day",
    "daily_purchase_spine", "user_event_type_profile", "event_grouping_sets",
    "user_first_last_events", "daily_activity_reconciliation",
    "lineitem_measures_unpivot", "event_value_histogram",
    "event_value_dispersion", "user_daily_value_interpolated",
    "daily_event_anomalies", "conversion_funnel", "event_value_winsorized",
    "user_retention_cohorts", "event_transition_matrix", "user_distinct_kmv",
    "doc_token_classes", "doc_char_jaccard_pairs",
    "doc_winnow_fingerprint_overlap", "doc_stratified_sample",
    "doc_tfidf_top_terms", "doc_token_percentiles_approx",
    "multimodal_frame_index", "llm_corpus_pipeline", "doc_embedding_profile",
    "knn_ivf_kmeans", "embedding_dedup_survivors", "knn_pq_adc",
    "stream_merge_upsert_roundtrip", "stream_session_windows",
    "stream_view_purchase_join", "stream_purchase_attribution_outer",
    "clustered_time_slice", "sensor_feed_stats",
})


# The 50 queries that held the driver window in round 5 (all green in
# CORRECTNESS_r05.json).
R5_WINDOW = frozenset({
    "llm_corpus_pipeline_v2", "doc_incremental_near_dup", "doc_dup_clusters_twophase",
    "doc_decontamination", "doc_repetition_signals", "doc_unigram_logprob",
    "corpus_language_mixing", "embedding_covariance", "doc_dedup_best_quality",
    "event_props_variant", "json_landing_stats", "orc_roundtrip_stats",
    "order_priority_pivot_native", "sensor_feed_stream_stats", "embedding_covariance_partial",
    "embedding_pca_whitened", "stream_incremental_near_dup", "corpus_token_budget_selection",
    "doc_pii_scrub", "ledger_roundtrip_stats", "zorder_time_user_slice",
    "chunk_dedup_stats", "doc_quality_classifier", "doc_dsir_weights",
    "embedding_semdedup", "doc_weighted_sample", "doc_bigram_logprob",
    "stream_dq_quarantine", "doc_incremental_dup_clusters", "stream_incremental_dup_clusters",
    "pricing_summary", "daily_event_stats", "ingest_watermark",
    "latest_order_per_customer", "top_orders_per_priority", "customer_order_summary",
    "segment_fee_model", "event_orphan_users", "stream_event_hourly_window",
    "stream_dedup_events", "stream_static_segment_counts", "csv_landing_daily_stats",
    "incremental_keyset_roundtrip", "medallion_gold_daily", "doc_fingerprint_dedup",
    "chunk_packing", "doc_quality_filter", "multimodal_byte_features",
    "knn_ivf_multiprobe", "embedding_near_dup",
})

# The 50 queries that held the driver window in round 6 (all green in
# CORRECTNESS_r06.json): the 20 r6 additions + the 30 r3-stale
# re-confirmations.
R6_WINDOW = frozenset({
    "schema_merge_landing_stats", "bootstrap_partitioned_roundtrip",
    "stream_ivf_assignments", "llm_corpus_pipeline_v3", "knn_ivfpq_adc",
    "stream_multihop_topology", "compact_maintenance_stats",
    "stream_event_sliding_window", "stream_pq_codes",
    "corpus_packing_manifest", "event_audience_overlap_kmv",
    "event_heavy_hitters_cms", "orders_bloom_prefilter",
    "jdbc_live_roundtrip", "events_asof_tolerance", "audio_pcm_chunk_stats",
    "customer_top_orders_lateral", "regional_supplier_revenue",
    "doc_prefix_filter_pairs", "purchase_graph_pagerank",
    "order_priority_pivot", "peak_event_hours", "events_from_customers",
    "hourly_value_deviation", "event_cost_model", "event_range_flags",
    "active_ids_union", "order_dup_check", "event_null_profile",
    "urgent_open_orders", "allowed_event_types", "top_value_orders",
    "event_hourly_window", "event_projection_normalize",
    "stream_user_sessions", "doc_text_quality", "doc_exact_dedup",
    "doc_train_split", "doc_token_percentiles", "doc_chunks",
    "doc_near_dup_pairs", "doc_dup_clusters", "doc_dedup_survivors",
    "doc_signatures", "doc_signature_table_pairs", "doc_simhash_near_dup",
    "doc_language_guess", "knn_brute_force", "knn_ivf",
    "embedding_dup_clusters",
})

# The 50 queries that held the driver window in round 7 (all green in
# CORRECTNESS_r07.json): 49 of the 55 R7_PENDING late-r6 additions +
# the new DQ6 expected-cardinality gate.
R7_WINDOW = frozenset({
    "landing_cardinality_check",
    "ledger_time_travel_stats",
    "merge_change_feed_stats",
    "stream_cdf_matview",
    "snapshot_diff_stats",
    "scd2_enriched_event_stats",
    "stream_cms_heavy_hitters",
    "table_content_digest",
    "knn_recall_eval",
    "knn_lsh_hamming",
    "doc_bm25_topk",
    "hybrid_rrf_retrieval",
    "pq_distortion_stats",
    "contrastive_inbatch_pairs",
    "embedding_prototype_eval",
    "embedding_matryoshka_recall",
    "embedding_dim_profile",
    "embedding_cluster_quality",
    "customer_similarity_topk",
    "doc_dup_span_mass",
    "doc_token_pmi",
    "doc_char_entropy",
    "doc_split_leakage",
    "doc_groupwise_split",
    "doc_weighted_sample_per_lang",
    "doc_weighted_quality_quantiles",
    "doc_sorted_neighborhood_pairs",
    "vocab_editdist_pairs",
    "bpe_merge_candidates",
    "source_dup_matrix",
    "source_corpus_profile",
    "source_discriminative_terms",
    "llm_corpus_pipeline_v4",
    "join_size_ams_estimate",
    "user_rolling_distinct_kmv",
    "events_profile_summary",
    "event_ewma_anomalies",
    "event_cusum_changepoints",
    "event_value_mad_outliers",
    "event_value_psi_drift",
    "daily_seasonal_residuals",
    "event_type_trend_slopes",
    "segment_conversion_ztest",
    "copurchase_triangle_stats",
    "purchase_graph_communities",
    "basket_association_rules",
    "customer_rfm_segments",
    "user_window_funnel",
    "user_conversion_life_table",
    "user_item_negative_samples",
})


# The 43 queries that entered round 8 with no driver CORRECTNESS row
# (6 r7-deferred aggregates + 37 post-window r7 additions; judge-verified
# green at sf0.01 in the r7 session). ALL of them take the r8 window —
# after r8 every registry query has a driver row.
R8_PENDING = frozenset({
    "corpus_zipf_slope",
    "benford_price_audit",
    "customer_revenue_gini",
    "fd_violation_audit",
    "order_leadtime_percentiles",
    "session_bounce_stats",
    # new in r7 (registered after the r7 window committed to the
    # pending backlog)
    "scale_conf_advisor",
    "segment_shipping_priority",
    "returned_item_losses",
    "promo_revenue_share",
    "large_volume_customers",
    "corpus_mixture_plan",
    "segment_supplier_affinity_ppr",
    "daily_forecast_backtest",
    "events_in_incident_windows",
    "segment_reach_bfs",
    "purchase_graph_hits",
    "segment_pareto_customers",
    "classifier_calibration_eval",
    "temporal_purchase_reach",
    "incident_concurrency_profile",
    "event_value_bootstrap_ci",
    "event_type_target_encoding",
    "segment_cuped_adjusted_lift",
    "purchase_graph_kcore",
    "segment_did_bootstrap",
    "dpp_partition_pruned_join",
    "uplift_decile_curve",
    "dup_cluster_cohesion_audit",
    "events_asof_nearest",
    "embedding_dbscan_2d",
    "lsh_scurve_eval",
    "session_path_trigrams",
    "purchase_als_rank1",
    "doc_cdc_chunks",
    "event_value_ks_drift",
    "event_type_leadlag",
    "als_recall_eval",
    "purchase_graph_densest",
    "event_type_theilsen_trend",
    "transition_model_eval",
    "vocab_coverage_eval",
    "source_ngram_diversity",
})


# Queries first registered in round 8 — gated the round they are born,
# so no pending backlog forms again.
R8_NEW = frozenset({
    "event_type_stats_autotuned",
    "event_session_window_native",
    "stream_session_window_agg",
    "stream_state_accounting",
    "stream_dedup_reappear",
})

# r4-window queries taking the two spare r8 slots for a fresh driver
# row: the fixed-64-bucket salted agg (now the autotuned twin's
# baseline) and the outer-join attribution stream whose oracle is
# coupled to Spark's eviction boundary (the carried r5+ watch item).
R8_RECONFIRM = frozenset({
    "event_type_stats_salted",
    "stream_purchase_attribution_outer",
})

# The r8 window as the driver recorded it (all green in
# CORRECTNESS_r08.json): the whole pending backlog + the new r8
# operators + the two declared re-confirmations.
R8_WINDOW = R8_PENDING | R8_NEW | R8_RECONFIRM


# Queries registered AFTER the r8 window was pinned (builder-verified
# at three SFs in r8, judge-verified at sf0.01 in the r8 session):
# update/complete output modes, multiset set ops, TPC-H Q5/Q13/Q21/Q22
# proper, the time-RANGE frame, ledger VACUUM, checkpoint recovery,
# exact AUC, recursive CTE, TWAP, and the equi-depth histogram. ALL of
# them take the r9 window — the r8 verdict's #1 ask.
R9_PENDING = frozenset({
    "customer_order_count_distribution",
    "local_supplier_revenue",
    "user_event_bag_diff",
    "user_value_rolling_7d",
    "stream_update_mode_counts",
    "stream_complete_topk",
    "sole_late_supplier_waitlist",
    "rich_nonurgent_customers",
    "ledger_vacuum_stats",
    "stream_checkpoint_recovery",
    "classifier_auc_eval",
    "order_ancestor_chain_cte",
    "user_daily_twap",
    "event_value_equidepth_hist",
})

# Queries first registered in round 9 — gated the round they are born,
# so no pending backlog forms: the TPC-H Q2/Q20/Q15 decorrelation
# shapes and the recursive-CTE twin of the hand-rolled BFS.
R9_NEW = frozenset({
    "min_cost_region_supplier",
    "small_part_hoarding_suppliers",
    "top_revenue_supplier",
    "segment_reach_bfs_cte",
})

# The 32 re-confirmation slots: of the 48 queries whose NEWEST driver
# row is still r4 (everything else is r5+), the first 32 in name
# order take the spare r9 slots for a fresh row.
R9_RECONFIRM = frozenset({
    "active_without_purchase_last_day",
    "brand_small_qty_revenue",
    "clustered_time_slice",
    "conversion_funnel",
    "daily_activity_reconciliation",
    "daily_event_anomalies",
    "daily_purchase_spine",
    "doc_char_jaccard_pairs",
    "doc_embedding_profile",
    "doc_stratified_sample",
    "doc_tfidf_top_terms",
    "doc_token_classes",
    "doc_token_percentiles_approx",
    "doc_winnow_fingerprint_overlap",
    "embedding_dedup_survivors",
    "event_grouping_sets",
    "event_props_parsed",
    "event_transition_matrix",
    "event_type_hour_cube",
    "event_type_rollup",
    "event_user_skew_profile",
    "event_value_dispersion",
    "event_value_histogram",
    "event_value_winsorized",
    "events_asof_reference_value",
    "knn_ivf_kmeans",
    "knn_pq_adc",
    "lineitem_measures_unpivot",
    "llm_corpus_pipeline",
    "multimodal_frame_index",
    "order_value_window_stats",
    "orders_with_late_shipments",
})

# The alphabetical tail of the 48 r4-stale queries (the 16 that did
# not fit the r9 window) — first in line for r10 re-confirmation.
R10_RECONFIRM_BACKLOG = frozenset({
    "priority_revenue_salted_join",
    "purchase_running_total",
    "repeat_purchasers_first_last_day",
    "sensor_feed_stats",
    "stream_merge_upsert_roundtrip",
    "stream_session_windows",
    "stream_view_purchase_join",
    "user_daily_value_interpolated",
    "user_distinct_hll",
    "user_distinct_kmv",
    "user_event_type_profile",
    "user_first_last_events",
    "user_retention_cohorts",
    "user_session_windows",
    "user_sessions",
    "views_before_purchase",
})

# Queries registered AFTER the r9 window was pinned (builder-verified
# at three SFs this round; first in line for the r10 window): the six
# remaining expressible TPC-H shapes — Q7 bilateral volume, Q8 market
# share, Q9 margin (retail-basis cost, no partsupp in this schema),
# Q11 global-fraction HAVING, Q16 NOT-IN supplier diversity, Q19
# disjunctive brackets. (Q12 needs shipmode/receiptdate columns the
# schema lacks — documented, not adapted.)
R10_PENDING = frozenset({
    "bilateral_shipping_volume",
    "region_market_share",
    "supplier_nation_margin",
    "important_part_values",
    "supplier_diversity_counts",
    "brand_bracket_revenue",
    # second r9 batch: four operator classes the registry lacked —
    # skyline (Pareto dominance via prefix-max, not the O(n^2) anti-join),
    # closed-form 2-predictor OLS, split-conformal intervals, and
    # Fellegi-Sunter entity-resolution scoring. Builder-verified at
    # three SFs + plan-locked the round they were born.
    "part_price_size_skyline",
    "event_value_ols2",
    "order_conformal_interval",
    "customer_er_match_scores",
    # exact power-set Shapley attribution over (user, day) journeys
    "channel_shapley_attribution",
    # Benjamini-Hochberg FDR over the 120-cell z-test family
    "hourly_value_bh_fdr",
    # Fellegi-Sunter EM fit as a recursive-CTE fixpoint
    "customer_er_em_params",
    # transitive closure of match pairs into entity clusters
    "customer_er_entity_clusters",
    # Markov removal-effect attribution (Cramer closed form)
    "channel_markov_attribution",
    # exact ACF of the daily value series (lags 1..7)
    "daily_value_acf",
    # fit-batch / enforce-stream conformal quarantine
    "stream_conformal_quarantine",
    # survey sampling: HT estimation + Neyman allocation
    "order_total_ht_estimate",
    "order_neyman_allocation",
    # Chapman capture-recapture population estimation
    "order_capture_recapture",
    # Good-Turing unseen-mass estimation over the 5-gram space
    "vocab_good_turing",
})

# The full r9 driver window (all 50 green in CORRECTNESS_r09.json).
R9_WINDOW = R9_PENDING | R9_NEW | R9_RECONFIRM

# The 13 r10 re-confirmation slots left after the 21 pending + 16
# r4-stale backlog: of the 50 queries whose NEWEST driver row is r5
# (the oldest rows once the r4 backlog is refreshed), the first 13 in
# name order.
R10_RECONFIRM_R5 = frozenset({
    "chunk_dedup_stats",
    "chunk_packing",
    "corpus_language_mixing",
    "corpus_token_budget_selection",
    "csv_landing_daily_stats",
    "customer_order_summary",
    "daily_event_stats",
    "doc_bigram_logprob",
    "doc_decontamination",
    "doc_dedup_best_quality",
    "doc_dsir_weights",
    "doc_dup_clusters_twophase",
    "doc_fingerprint_dedup",
})

# The full r10 driver window (all 50 green in CORRECTNESS_r10.json).
R10_WINDOW = R10_PENDING | R10_RECONFIRM_BACKLOG | R10_RECONFIRM_R5

# The alphabetical tail of the 50 r5-stale queries (the 37 that did
# not fit the r10 window) — the r11 window's re-confirmation core.
R11_RECONFIRM_BACKLOG = frozenset({
    "doc_incremental_dup_clusters",
    "doc_incremental_near_dup",
    "doc_pii_scrub",
    "doc_quality_classifier",
    "doc_quality_filter",
    "doc_repetition_signals",
    "doc_unigram_logprob",
    "doc_weighted_sample",
    "embedding_covariance",
    "embedding_covariance_partial",
    "embedding_near_dup",
    "embedding_pca_whitened",
    "embedding_semdedup",
    "event_orphan_users",
    "event_props_variant",
    "incremental_keyset_roundtrip",
    "ingest_watermark",
    "json_landing_stats",
    "knn_ivf_multiprobe",
    "latest_order_per_customer",
    "ledger_roundtrip_stats",
    "llm_corpus_pipeline_v2",
    "medallion_gold_daily",
    "multimodal_byte_features",
    "orc_roundtrip_stats",
    "order_priority_pivot_native",
    "pricing_summary",
    "segment_fee_model",
    "sensor_feed_stream_stats",
    "stream_dedup_events",
    "stream_dq_quarantine",
    "stream_event_hourly_window",
    "stream_incremental_dup_clusters",
    "stream_incremental_near_dup",
    "stream_static_segment_counts",
    "top_orders_per_priority",
    "zorder_time_user_slice",
})


# New in round 11, gated at birth: the REAL stdlib PNG codec queries
# (the r10 verdict's #3 ask — pixel decode computed, not simulated).
R11_NEW = frozenset({
    "image_pixel_stats",
    "image_resize_stats",
    "animation_frame_stats",
})

# The 10 r11 re-confirmation slots left after the 3 new + 37 backlog:
# of the 50 queries whose NEWEST driver row is r6 (the oldest rows once
# the r5 backlog is refreshed), the first 10 in name order.
R11_RECONFIRM_R6 = frozenset({
    "active_ids_union",
    "allowed_event_types",
    "audio_pcm_chunk_stats",
    "bootstrap_partitioned_roundtrip",
    "compact_maintenance_stats",
    "corpus_packing_manifest",
    "customer_top_orders_lateral",
    "doc_chunks",
    "doc_dedup_survivors",
    "doc_dup_clusters",
})

# The alphabetical tail of the 50 r6-stale queries (the 40 that did
# not fit the r11 window) — first in line for r12 re-confirmation.
R12_RECONFIRM_BACKLOG = frozenset({
    "doc_exact_dedup",
    "doc_language_guess",
    "doc_near_dup_pairs",
    "doc_prefix_filter_pairs",
    "doc_signature_table_pairs",
    "doc_signatures",
    "doc_simhash_near_dup",
    "doc_text_quality",
    "doc_token_percentiles",
    "doc_train_split",
    "embedding_dup_clusters",
    "event_audience_overlap_kmv",
    "event_cost_model",
    "event_heavy_hitters_cms",
    "event_hourly_window",
    "event_null_profile",
    "event_projection_normalize",
    "event_range_flags",
    "events_asof_tolerance",
    "events_from_customers",
    "hourly_value_deviation",
    "jdbc_live_roundtrip",
    "knn_brute_force",
    "knn_ivf",
    "knn_ivfpq_adc",
    "llm_corpus_pipeline_v3",
    "order_dup_check",
    "order_priority_pivot",
    "orders_bloom_prefilter",
    "peak_event_hours",
    "purchase_graph_pagerank",
    "regional_supplier_revenue",
    "schema_merge_landing_stats",
    "stream_event_sliding_window",
    "stream_ivf_assignments",
    "stream_multihop_topology",
    "stream_pq_codes",
    "stream_user_sessions",
    "top_value_orders",
    "urgent_open_orders",
})


# The full r11 driver window (all 50 green in CORRECTNESS_r11.json).
R11_WINDOW = R11_NEW | R11_RECONFIRM_BACKLOG | R11_RECONFIRM_R6

# New in round 12, gated at birth: the REAL stdlib RIFF/WAV container
# codec query (the r11 verdict's #5 ask — the last synthetic-framing
# media column converted to a genuine container parse), the REAL
# ISO BMFF (MP4/MOV) demux + 'png '-codec per-frame decode (the video
# modality's container path made real; H.264 stays an ffmpeg stub),
# and the REAL baseline-JPEG codec (grayscale DCT/Huffman path made
# real and value-locked on block-constant frames; color stays a PIL
# guard).
R12_NEW = frozenset({
    "audio_wav_chunk_stats",
    "video_mp4_frame_stats",
    "image_jpeg_block_stats",
})

# The 7 r12 re-confirmation slots left after the 3 new + 40 backlog:
# of the 50 queries whose NEWEST driver row is r7 (the oldest rows once
# the r6 backlog is refreshed), the first 7 in name order.
R12_RECONFIRM_R7 = frozenset({
    "basket_association_rules",
    "bpe_merge_candidates",
    "contrastive_inbatch_pairs",
    "copurchase_triangle_stats",
    "customer_rfm_segments",
    "customer_similarity_topk",
    "daily_seasonal_residuals",
})

# The alphabetical tail of the 50 r7-stale queries (the 43 that did
# not fit the r12 window) — first in line for r13 re-confirmation.
R13_RECONFIRM_BACKLOG = frozenset({
    "doc_bm25_topk",
    "doc_char_entropy",
    "doc_dup_span_mass",
    "doc_groupwise_split",
    "doc_sorted_neighborhood_pairs",
    "doc_split_leakage",
    "doc_token_pmi",
    "doc_weighted_quality_quantiles",
    "doc_weighted_sample_per_lang",
    "embedding_cluster_quality",
    "embedding_dim_profile",
    "embedding_matryoshka_recall",
    "embedding_prototype_eval",
    "event_cusum_changepoints",
    "event_ewma_anomalies",
    "event_type_trend_slopes",
    "event_value_mad_outliers",
    "event_value_psi_drift",
    "events_profile_summary",
    "hybrid_rrf_retrieval",
    "join_size_ams_estimate",
    "knn_lsh_hamming",
    "knn_recall_eval",
    "landing_cardinality_check",
    "ledger_time_travel_stats",
    "llm_corpus_pipeline_v4",
    "merge_change_feed_stats",
    "pq_distortion_stats",
    "purchase_graph_communities",
    "scd2_enriched_event_stats",
    "segment_conversion_ztest",
    "snapshot_diff_stats",
    "source_corpus_profile",
    "source_discriminative_terms",
    "source_dup_matrix",
    "stream_cdf_matview",
    "stream_cms_heavy_hitters",
    "table_content_digest",
    "user_conversion_life_table",
    "user_item_negative_samples",
    "user_rolling_distinct_kmv",
    "user_window_funnel",
    "vocab_editdist_pairs",
})


def test_gate_window_pinned():
    """The driver records correctness rows for exactly the FIRST 50
    registry entries in iteration order. Pin the ROTATED r12 set: the 3
    R12_NEW media codec queries (WAV + MP4 + JPEG, gated at birth),
    the full 40-query R12_RECONFIRM_BACKLOG (the r6-stale tail — the
    oldest driver rows anywhere), and the first 7 r7-stale
    re-confirmations. After this
    round no driver row predates r7. A refactor that reorders
    registration (round 2 silently pushed embedding_near_dup and all of
    §2.7 out of the window) must fail HERE, not at the gate."""
    from smartpool_bigdata_spark.queries import GATE_PRIORITY

    names = list(REGISTRY)
    assert len(GATE_PRIORITY) == 50
    assert names[: len(GATE_PRIORITY)] == GATE_PRIORITY

    gated = set(GATE_PRIORITY)
    # prior-window greens stay registered and oracle-checked by this suite
    prior = (
        R3_WINDOW
        | R4_WINDOW
        | R5_WINDOW
        | R6_WINDOW
        | R7_WINDOW
        | R8_WINDOW
        | R9_WINDOW
        | R10_WINDOW
        | R11_WINDOW
    )
    missing = prior - set(names)
    assert not missing, f"driver-green queries dropped from registry: {missing}"
    # FULL coverage: every registry query has a driver row from some
    # round or is in this window; new queries registered THIS round
    # must be added to the window (gated at birth) or to a declared
    # R13_PENDING set — silence is not an option
    uncovered = set(names) - (gated | prior)
    assert not uncovered, f"queries with no driver window ever: {uncovered}"
    # R12_NEW really is new (no prior driver row) and fully gated
    assert not R12_NEW & prior, f"R12_NEW entries already gated: {R12_NEW & prior}"
    assert R12_NEW <= gated, f"new queries dropped: {R12_NEW - gated}"
    # the window is EXACTLY: the new query + both re-confirmation slices
    assert gated - R12_NEW == R12_RECONFIRM_BACKLOG | R12_RECONFIRM_R7
    # the r6-stale backlog is genuinely r6-stale (newest row = r6,
    # nothing refreshed it since), the r7 slice genuinely r7-stale
    assert R12_RECONFIRM_BACKLOG <= R6_WINDOW
    assert not R12_RECONFIRM_BACKLOG & (
        R7_WINDOW | R8_WINDOW | R9_WINDOW | R10_WINDOW | R11_WINDOW
    )
    assert R12_RECONFIRM_R7 <= R7_WINDOW
    assert not R12_RECONFIRM_R7 & (
        R8_WINDOW | R9_WINDOW | R10_WINDOW | R11_WINDOW
    )
    # the declared r13 backlog is exactly the rest of the r7-stale set
    stale_r7 = R7_WINDOW - (
        R8_WINDOW | R9_WINDOW | R10_WINDOW | R11_WINDOW
    )
    assert R12_RECONFIRM_R7 | R13_RECONFIRM_BACKLOG == stale_r7
    assert not R12_RECONFIRM_R7 & R13_RECONFIRM_BACKLOG
