"""Physical-plan regression tests: the scale-critical plan properties the
round's audit established, locked in so a refactor can't silently lose
them. Uses the AQE-final executed plan (collect first)."""

from __future__ import annotations

import pytest

from smartpool_bigdata_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = _final_plan(REGISTRY[name].build(spark, SF_DIR))
        return cache[name]

    def prefetch(names) -> None:
        """Execute-and-cache a batch of queries CONCURRENTLY (guide
        §2.6): the posture sweeps each walk a static list of queries
        whose executions are independent — sequential collect()s left
        7 of the session's 8 cores idle and dominated the suite wall."""
        from concurrent.futures import ThreadPoolExecutor

        todo = [n for n in names if n not in cache]
        with ThreadPoolExecutor(max_workers=12) as pool:
            list(pool.map(get, todo))

    get.prefetch = prefetch
    return get


def test_filter_pushdown_reaches_parquet_scan(plans):
    plan = plans("pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(plans):
    plan = plans("daily_event_stats")
    # events has 6 columns; the scan must read only ts, value, user_id
    assert "ReadSchema: struct<ts:" in plan
    assert "props" not in plan


def test_dim_joins_broadcast_not_sortmerge(plans):
    for name in ("customer_order_summary", "segment_fee_model", "events_from_customers"):
        plan = plans(name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_semi_and_anti_join_strategies(plans):
    assert "LeftSemi" in plans("events_from_customers")
    assert "LeftAnti" in plans("event_orphan_users")


def test_global_topk_avoids_total_sort(plans):
    # ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition top-K
    # + driver merge), not a full sort shuffle
    assert "TakeOrderedAndProject" in plans("top_value_orders")


def test_whole_stage_codegen_present(plans):
    plan = plans("pricing_summary")
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_spread_repartition_keeps_filter_pushdown(spark):
    """load_table(spread=True) inserts a repartition below user filters;
    the filter must still push THROUGH it to the parquet scan, and the
    spread must actually widen an under-split scan."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.catalog import load_table

    df = load_table(spark, SF_DIR, "documents", spread=True).filter(
        F.col("lang") == "en"
    )
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    # assert the predicate reached the scan without coupling to the exact
    # plan-string layout (which shifts across Spark versions)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("EqualTo(lang,en)" in ln for ln in pushed), plan


def test_exists_subquery_decorrelates_to_semi_join(plans):
    """SQL EXISTS must decorrelate into a single LeftSemi hash join —
    no per-row subquery re-execution, no nested-loop fallback."""
    plan = plans("orders_with_late_shipments")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_decorrelates_to_aggregate_join(plans):
    """The correlated scalar subquery (per-part avg) must plan as ONE
    hash aggregate joined back — the avg appears as a join-side column,
    not a re-executed subquery per probe row."""
    plan = plans("brand_small_qty_revenue")
    assert "HashAggregate" in plan
    assert "avg(l_quantity)" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_binned_range_join_is_equi_join(plans):
    """The 4-hour range join must plan as a HASH equi-join on
    (user_id, bin) with the range as a residual condition — a naive
    inequality join would fall back to BroadcastNestedLoopJoin, which is
    quadratic per user at scale."""
    plan = plans("views_before_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_cube_single_aggregate_pass(plans):
    """CUBE must expand into one Expand + hash aggregate over the
    grouping-set union — not four scans of the input."""
    plan = plans("event_type_hour_cube")
    assert "Expand" in plan
    # exactly one parquet scan of events feeds the cube (the AQE plan
    # string repeats the tree as "== Initial Plan ==" — look only at the
    # final plan section)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1


def test_profile_summary_single_scan(plans, spark, monkeypatch):
    """The ANALYZE-analog must profile every column from ONE
    materialized scan: the checkpointed events frame feeds the base
    aggregate and the six per-column distinct branches (r13: the 6-way
    count-DISTINCT Expand — a 6x row fan-out — is gone; verdict #7),
    so the final plan has NO Expand and NO parquet re-scan per column
    (the one parquet scan lives inside the checkpointed RDD).

    The checkpoint cuts the lineage, so the final plan alone cannot show
    how many scans feed it: the frame handed to ``localCheckpoint`` is
    captured too, and its plan must hold exactly one parquet scan."""
    plan = plans("events_profile_summary")
    final = plan.split("== Initial Plan ==")[0]
    assert "Expand" not in final
    assert final.count("Scan parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in final

    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    checkpointed = []
    real = frame_cls.localCheckpoint

    def capture(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", capture)
    REGISTRY["events_profile_summary"].build(spark, SF_DIR)
    monkeypatch.undo()
    assert len(checkpointed) == 1
    pre = checkpointed[0]._jdf.queryExecution().executedPlan().toString()
    assert pre.split("== Initial Plan ==")[0].count("Scan parquet") == 1


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The SCALE.md posture 'mild skew -> AQE skew-join handles it',
    proven: a join whose shuffle has one hot key must re-plan at runtime
    as SortMergeJoin(skew=true) with a skewed AQEShuffleRead — the hot
    partition split into subpartitions instead of serializing one
    reducer. Thresholds are lowered to make test-scale data 'big'; the
    mechanism is identical at 100 TB with the defaults."""
    from pyspark.sql import functions as F

    overrides = {
        # the session fixture runs 8 shuffle partitions; with so few, the
        # non-hot partitions are large enough that the hot one stays
        # under factor×median — 32 partitions isolates the hot key
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 2 == 0, 1).otherwise(F.col("id")).alias("k"),
            F.concat(*[F.md5(F.col("id").cast("string"))] * 4).alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.lit("r").alias("tag")
        )
        j = left.join(right, "k").groupBy().count()
        n = j.collect()[0][0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final
        assert "skewed" in final  # the AQEShuffleRead split
        # correctness unharmed by the split: 200k rows of key 1 match
        # key 1 on the right, plus the 25,000 odd ids < 50,000
        assert n == 200_000 + 25_000
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_orc_roundtrip_prunes_partitions_and_pushes_filters(spark, tmp_path):
    """The ORC round-trip's scale claims, plan-locked: the event_type
    IN-list must land in PartitionFilters (pruned at planning, no
    partition dirs read) and the date bound must push into the ORC
    reader (PushedFilters against stripe stats)."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").limit(2000)
    path = str(tmp_path / "orc_ev")
    ev.write.mode("overwrite").partitionBy("event_type").orc(path)
    back = (
        spark.read.orc(path)
        .filter(F.col("event_type").isin("purchase", "view"))
        .filter(F.col("ts").cast("date") <= F.lit("2024-01-07").cast("date"))
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part and any("event_type" in ln for ln in part), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("ts" in ln for ln in pushed), plan


def test_r4_curation_queries_never_sort_merge_join(plans):
    """The r4 curation/analysis family's scale posture, plan-locked: the
    final AQE plans contain only broadcast/hash joins — a refactor that
    loses a broadcast (eval gram set, corpus total, centroid-style dims)
    falls back to SortMergeJoin and fails here, not at 100 TB."""
    names = (
        "doc_decontamination",
        "doc_unigram_logprob",
        "corpus_language_mixing",
        "embedding_covariance",
        "llm_corpus_pipeline_v2",
        "doc_repetition_signals",
    )
    plans.prefetch(names)
    for name in names:
        plan = plans(name)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final, name
        assert "CartesianProduct" not in final, name


def test_r6_additions_plan_posture(plans):
    """The r6 additions' scale posture, plan-locked: broadcast/hash joins
    only — pipeline v3 chains classifier -> DSIR -> budget -> packing in
    one plan, and a lost broadcast on any of its O(buckets)/O(langs)
    frames would surface as a SortMergeJoin here, not at 100 TB."""
    names = (
        "llm_corpus_pipeline_v3",
        "schema_merge_landing_stats",
        "knn_ivfpq_adc",
        "corpus_packing_manifest",
        "event_audience_overlap_kmv",
        "event_heavy_hitters_cms",
        "orders_bloom_prefilter",
        "customer_top_orders_lateral",
        "regional_supplier_revenue",
        # prefix-filter join: the candidate and verify joins must stay
        # hash joins on shingle/doc keys, never a cartesian
        "doc_prefix_filter_pairs",
        # pagerank: the returned frame is post-localCheckpoint (the loop
        # plans are cut), but the lock still catches a cartesian or SMJ
        # in the final projection should the checkpoint be removed
        "purchase_graph_pagerank",
        # duplicate-span mass: the span-count window plus doc_id joins
        # must stay hash/broadcast — a corpus-vs-counts join-back
        # refactor that loses the pre-reduce would surface here
        "doc_dup_span_mass",
        # PMI collocations: marginals must stay windows over the
        # aggregated pair table + a broadcast scalar total — losing the
        # broadcast (or joining marginals back) would surface here
        "doc_token_pmi",
        # BM25: df/stats must stay broadcast and the global top-20 a
        # TakeOrderedAndProject, never a total sort or SMJ
        "doc_bm25_topk",
        # AMS join-size: the exact side must join the two AGGREGATED
        # key tables (hash join), never the raw facts; sketch frames
        # and scalars broadcast
        "join_size_ams_estimate",
        # snapshot diff: the whole point is NO join — a refactor back
        # to the full-outer form would plan the one SMJ Spark forces
        "snapshot_diff_stats",
        # pipeline v4: the signal joins on doc_id must stay hash joins
        # off the shared token-hash stage
        "llm_corpus_pipeline_v4",
        # split leakage: the LSH candidate/verify joins must stay hash
        # joins and the split labels row-local expressions — an
        # assignment-table join-back refactor would surface here
        "doc_split_leakage",
        # BPE pair mining: join-free (vocab pre-reduce + pair agg) and
        # the global top-20 must stay a TakeOrderedAndProject
        "bpe_merge_candidates",
        # Zipf fit: the prefix-sum rank's joins are broadcast-only and
        # the regression is one aggregate — no SMJ, no cartesian
        "corpus_zipf_slope",
        # sparse similarity join: inverted-index + norm joins are
        # hinted shuffled-hash (nothing broadcastable at scale, no
        # sort needed) — losing a hint reverts to SMJ and fails here
        "customer_similarity_topk",
        # dup matrix: the within-digest self-join is hinted
        # shuffled-hash; pair math is combinatorial, never exploded
        "source_dup_matrix",
        # dim profile: the O(d) bounds frame must stay broadcast over
        # the value stream — d is a constant, the corpus is not
        "embedding_dim_profile",
        # per-source lexical profile: one (source, type) pre-reduce,
        # then per-source joins — hash/broadcast only
        "source_corpus_profile",
        # SymSpell edit-distance join: the deletion-variant self-join
        # and count join-backs must stay hash/broadcast, never vocab²
        "vocab_editdist_pairs",
        # association rules: the basket self-join is hinted
        # shuffled-hash; supports broadcast; top-20 is TakeOrdered
        "basket_association_rules",
        # chi-square terms: doc-frequency joins hash/broadcast; the
        # per-source top-5 is the salted two-phase window
        "source_discriminative_terms",
        # CUSUM: everything after the daily pre-agg is O(types x days);
        # stats broadcast back over the window pass
        "event_cusum_changepoints",
        # sorted-neighborhood: the rank-bucket pairing is a hinted
        # shuffled-hash equi-join, never a range or cross join
        "doc_sorted_neighborhood_pairs",
        # matryoshka eval: every pass is broadcast-queries x corpus scan;
        # the recall join-back is a broadcast left join on tiny frames
        "embedding_matryoshka_recall",
        # RRF fusion: a tagged UNION + hash agg, deliberately NOT a
        # full-outer join (Spark would sort-merge it)
        "hybrid_rrf_retrieval",
        # weighted quantiles: the prefix-sum rank's joins are broadcast;
        # quantile picks are one aggregate with the total broadcast
        "doc_weighted_quality_quantiles",
        # z-test: per-user agg -> broadcast dim join -> O(segments)
        "segment_conversion_ztest",
        # Benford: scan -> 9-group agg -> O(9) with broadcast total
        "benford_price_audit",
        # trend slopes: daily pre-agg -> O(types) integer power sums,
        # min-day anchor broadcast
        "event_type_trend_slopes",
        # LPA communities: label-vector joins hinted shuffle-hash,
        # per-community frames broadcast; the sweeps' plans are cut by
        # localCheckpoint but the stats tail is locked here
        "purchase_graph_communities",
        # window funnel: ONE per-user fold, never the EXISTS triple
        # self-join the oracle uses — a join refactor would surface here
        "user_window_funnel",
        # MAD outliers: two scans + two O(types) broadcast join-backs
        "event_value_mad_outliers",
        # seasonal residuals: O(days) after the daily pre-agg; the 7-row
        # seasonal frame and variance scalar broadcast
        "daily_seasonal_residuals",
        # Gini: prefix-sum rank joins broadcast; identity is one agg
        "customer_revenue_gini",
        # life table: per-user firsts -> O(days) window; horizon broadcast
        "user_conversion_life_table",
        # cluster quality: broadcast-centroid scan, rn<=2 from one window
        "embedding_cluster_quality",
        # FD audit: stacked (fd, lhs) grouped count-distinct
        "fd_violation_audit",
        # content digest: pure map-side fold, 2-row aggregate
        "table_content_digest",
        # PSI drift: row-local binning vs broadcast cuts, O(10) tail
        "event_value_psi_drift",
        # negative sampling: row-local trials + anti-join, never users x items
        "user_item_negative_samples",
        # lead-time SLA: one fact-key join + per-priority percentiles
        "order_leadtime_percentiles",
        # bounce rate: the sessionize window shuffle + O(days) rollup
        "session_bounce_stats",
        # --- r7 additions ---
        # DQ6 cardinality gate: two hash aggs, verdict is a column expr
        "landing_cardinality_check",
        # tuning advisor: one hash agg per table, verdict arithmetic
        # in-plan — no joins at all
        "scale_conf_advisor",
        # Q3 shape: customer broadcast, orders-lineitem hinted
        # shuffle-hash, top-10 TakeOrdered on the exact decimal revenue
        "segment_shipping_priority",
        # Q10 shape: lineitem-orders hinted shuffle-hash, customer+nation
        # collapsed broadcast dim, top-20 TakeOrdered
        "returned_item_losses",
        # Q14 shape: part broadcast — the fact never shuffles pre-agg
        "promo_revenue_share",
        # Q18 shape: HAVING pre-reduce before any join; orders hinted
        # shuffle-hash; customer broadcast
        "large_volume_customers",
        # mixture plan: one scan + O(langs) window sums, join-free
        "corpus_mixture_plan",
        # personalized PR: loop plans cut by localCheckpoint; the lock
        # still catches a cartesian/SMJ in the final supplier projection
        "segment_supplier_affinity_ppr",
        # forecast backtest: O(types x days) after the daily pre-agg;
        # lag joins broadcast
        "daily_forecast_backtest",
        # bucketized range join: the point-interval join is a HASH join
        # on the bucket key with the range predicate residual — losing
        # the bucketization reverts to BroadcastNestedLoop and fails here
        "events_in_incident_windows",
        # BFS: loop plans cut by localCheckpoint; lock catches a
        # cartesian/SMJ in the final histogram tail
        "segment_reach_bfs",
        # HITS: same posture as the other checkpointed iterators
        "purchase_graph_hits",
        # skyline: distinct-x agg + window + ONE equi-join back — the
        # quadratic NOT-EXISTS rewrite would surface as a nested loop
        "segment_pareto_customers",
        # calibration: scan + doc_id agg + 10-key agg, join-free
        "classifier_calibration_eval",
        # temporal reach + k-core: checkpointed loops, locked tails
        "temporal_purchase_reach",
        "purchase_graph_kcore",
        # sweep-line concurrency: prefix-sum joins broadcast-only
        "incident_concurrency_profile",
        # bootstrap CI / target encoding / CUPED / DiD / uplift: tiny
        # moment frames must stay broadcast over the per-key aggregates
        "event_value_bootstrap_ci",
        "event_type_target_encoding",
        "segment_cuped_adjusted_lift",
        "segment_did_bootstrap",
        "uplift_decile_curve",
        # nearest as-of: two union-tag window passes, join-free
        "events_asof_nearest",
        # DBSCAN: grid-join internals are checkpoint-cut but hinted
        # shuffle-hash (plan_audit sweeps the full build: 0 SMJ); the
        # lock covers the role/union tail
        "embedding_dbscan_2d",
        # path trigrams: one user shuffle + row-local explode; top-20
        # must stay TakeOrdered, never a total sort
        "session_path_trigrams",
        # rank-1 ALS: factor join-backs hinted shuffle-hash (fact-keyed),
        # MSE scalar broadcast, top-20 TakeOrdered
        "purchase_als_rank1",
        # CDC chunking: row-local array algebra + one rollup, join-free
        "doc_cdc_chunks",
        # KS drift: prefix-sum cumsum joins broadcast, totals broadcast
        "event_value_ks_drift",
        # lead-lag: broadcast self-join of the tiny daily frame
        "event_type_leadlag",
        # ALS eval: train-side joins hinted shuffle-hash, top-K items
        # broadcast, never a users x items score matrix
        "als_recall_eval",
        # densest peeling: loop cut per round; stats are 1-row scalars
        "purchase_graph_densest",
        # Theil-Sen: O(days^2) pair join on the post-agg frame, broadcast
        "event_type_theilsen_trend",
        # Markov eval: O(types^2) model broadcast over one window pass
        "transition_model_eval",
        # vocab coverage: Heaps-sublinear rank window, 4-row broadcast
        "vocab_coverage_eval",
        # n-gram diversity: gram-table hash aggs, ownership join hinted
        "source_ngram_diversity",
    )
    plans.prefetch(names)
    for name in names:
        plan = plans(name)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final, name
        assert "CartesianProduct" not in final, name


def test_r8_additions_plan_posture(plans):
    """The r8 batch additions' scale posture, plan-locked (streaming
    additions run real streams at build and are posture-audited by
    their own gates instead)."""
    names = (
        # autotuner round-trip: profile agg + salted two-stage agg,
        # join-free
        "event_type_stats_autotuned",
        # native session windows: one user shuffle, no join
        "user_session_windows",
        # Q13: the customer<->orders join may broadcast at test SF or
        # shuffle-hash at scale — either way never SMJ/cartesian
        "customer_order_count_distribution",
        # Q5: date filter pushed, snowflake dims broadcast
        "local_supplier_revenue",
        # multiset ops: per-key counting hash shuffles, no sort
        "user_event_bag_diff",
        # RANGE frame: per-user sorted scan, join-free
        "user_value_rolling_7d",
        # Q21: semi+anti self-joins, anti side shuffle-hash-hinted
        # (distinct-agg build sides lose size stats -> SMJ without it)
        "sole_late_supplier_waitlist",
        # Q22: broadcast scalar profile + anti join
        "rich_nonurgent_customers",
        # exact AUC: distinct-score prefix sums, broadcast offsets
        "classifier_auc_eval",
        # TWAP: one (user, day) shuffle, lead window, join-free
        "user_daily_twap",
        # equi-depth hist: distinct-value prefix sums, broadcast total
        "event_value_equidepth_hist",
    )
    plans.prefetch(names)
    for name in names:
        plan = plans(name)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final, name
        assert "CartesianProduct" not in final, name


def test_r9_additions_plan_posture(plans):
    """The r9 batch additions' scale posture, plan-locked."""
    names = (
        # Q2: region-filtered supplier dim broadcast-semi prunes the
        # fact scan; per-part min is a window over the offer agg's own
        # partitioning; part + supplier detail joins broadcast
        "min_cost_region_supplier",
        # Q20: part-pattern dim broadcast semi-join, ONE conditional
        # hash agg on (supp, part) for both horizons, dims broadcast
        "small_part_hoarding_suppliers",
        # Q15: one suppkey hash agg, scalar max broadcast crossJoined,
        # supplier names broadcast — never a global window
        "top_revenue_supplier",
        # Q7: nation-filtered dims broadcast twice (supplier + customer
        # roles), one orderkey shuffle
        "bilateral_shipping_volume",
        # Q8: widest dim fan — all five dims broadcast, one fact shuffle
        "region_market_share",
        # Q9: name-filtered part dim broadcast prunes the fact first
        "supplier_nation_margin",
        # Q11: scalar (total, n_parts) profile rides a 1-row broadcast
        # NLJ (same shape as Q22's profile crossJoin) — never SMJ
        "important_part_values",
        # Q16: NOT IN decorrelates to broadcast LEFT ANTI; two-phase
        # distinct-count aggregate
        "supplier_diversity_counts",
        # Q19: dim-only implication factored out of the OR and pushed;
        # residual disjunction evaluates on the broadcast join
        "brand_bracket_revenue",
        # skyline: two hash aggs + broadcast frontier join — the NOT
        # EXISTS dominance pair-join must never materialize
        "part_price_size_skyline",
        # OLS normal equations: ONE map-side-combined aggregate, no join
        "event_value_ols2",
        # conformal: model + band histogram aggs, broadcast model join
        "order_conformal_interval",
        # Fellegi-Sunter: blocked self-join stays shuffle-hash (hinted),
        # top-50 collapses to TakeOrderedAndProject
        "customer_er_match_scores",
        # Shapley: one (user, day) hash agg; the power-set algebra runs
        # on 16-row broadcast tables
        "channel_shapley_attribution",
        # BH-FDR: one cell hash agg + 1-row global broadcast; the
        # rank/step-up windows run on the 120-row hypothesis family
        "hourly_value_bh_fdr",
        # ER-EM: one blocked pair-count agg; the EM algebra runs as the
        # UNROLLED em0..em10 CTE chain on the Spark side (one job over a
        # 1-row state; the DuckDB oracle keeps the WITH RECURSIVE form)
        "customer_er_em_params",
        # ER closure: blocked pair join + large-star/small-star CC
        "customer_er_entity_clusters",
        # Markov MTA: one journey window pass + transition agg; the
        # Cramer algebra evaluates on a 5-row scenario frame
        "channel_markov_attribution",
        # ACF: one day hash agg; lag joins run on the #days frame
        "daily_value_acf",
        # HT estimation: ONE conditional aggregate, no join
        "order_total_ht_estimate",
        # Neyman: one stratum agg + 5-row allocation algebra
        "order_neyman_allocation",
        # capture-recapture: ONE conditional aggregate, no join
        "order_capture_recapture",
        # Good-Turing: two hash aggs collapse corpus -> vocab -> N_r
        "vocab_good_turing",
    )
    plans.prefetch(names)
    for name in names:
        plan = plans(name)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final, name
        assert "CartesianProduct" not in final, name


def test_r5_additions_plan_posture(plans):
    """The r5 family's scale posture, plan-locked like the r4 one:
    broadcast/hash joins only (no SortMergeJoin, no cartesian), and for
    the token-budget selection the distributed prefix sum keeps exactly
    ONE full-data hash exchange — the within-bucket window — plus tiny
    aggregate/offset exchanges; a refactor that reintroduces a
    per-language single-task window or an unbroadcast join fails here,
    not at 100 TB."""
    import re

    names = (
        "corpus_token_budget_selection",
        "embedding_pca_whitened",
        "doc_pii_scrub",
        "chunk_dedup_stats",
        "doc_quality_classifier",
        "doc_dsir_weights",
        "doc_weighted_sample",
    )
    plans.prefetch(names)
    for name in names:
        plan = plans(name)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final, name
        assert "CartesianProduct" not in final, name
    budget = plans("corpus_token_budget_selection").split("== Initial Plan ==")[0]
    # hash exchanges: window on (bucket, lang) over full rows + the
    # map-side-combined lang/bucket aggregates; a lang-only window over
    # the full corpus would add a single-task exchange on lang alone
    # the FULL-data cumsum window must be partitioned (bucket, lang) —
    # lang-only exchanges in this plan are legitimate but only for the
    # tiny per-language aggregate/offset frames; if the prefix-sum
    # rewrite is lost (naive one-task-per-language window), the bucket
    # exchange disappears and this positive assertion fails
    assert re.search(
        r"hashpartitioning\(__bucket#\d+, lang#\d+", budget
    ), "distributed prefix sum lost its (bucket, lang) exchange"
    # covariance runs through Arrow mapInPandas (partial X^T X per batch)
    assert "MapInPandas" in plans("embedding_covariance")
    # E-S weighted sampling is a single TakeOrdered pass, not a global sort
    ws = plans("doc_weighted_sample")
    assert "TakeOrderedAndProject" in ws
    assert "Sort " not in ws.split("== Initial Plan ==")[0]


def test_zorder_read_pushes_both_keys(spark, tmp_path):
    """The 2-D slice over a Z-ordered layout must push BOTH key
    predicates into the parquet scan (PushedFilters) — pushdown is what
    turns the tight per-file footer stats (measured in
    test_bucketing.py) into actual skipped files at runtime."""
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.catalog import load_table
    from smartpool_bigdata_spark.io.sinks import zorder_write

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("ts", "user_id", "value")
        .withColumn("__epoch", F.col("ts").cast("timestamp").cast("double"))
    )
    out = str(tmp_path / "events_z")
    zorder_write(
        ev, out, cols=["__epoch", "user_id"], n_files=8, drop_cols=["__epoch"]
    )
    # the curve helper never reaches the published table
    assert "__epoch" not in spark.read.parquet(out).columns
    df = spark.read.parquet(out).filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
        & F.col("user_id").between(3, 9)
    )
    # the scan node's metadata string elides long filter lists at 100
    # chars — widen it so the assertion sees every pushed predicate
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _final_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "GreaterThanOrEqual(user_id,3)" in pushed
    assert "LessThanOrEqual(user_id,9)" in pushed
    assert "GreaterThanOrEqual(ts," in pushed


def _global_window_input_rows(spark, name: str, sf_dir: str) -> list[int]:
    """MEASURED input row count of every single-partition window in the
    query's executed plan: with AQE off, the records-written metric of
    the SinglePartition Exchange feeding each WindowExec chain is the
    exact number of rows the unpartitioned window sorts. (AQE must be
    off because the adaptive final plan re-wraps exchanges in query
    stages whose metric objects the driver-side tree no longer sees;
    collect(), not a noop write, because writes execute a separate
    QueryExecution and leave this one's metrics at zero.)"""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY[name].build(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    found: list[int] = []

    def _metric(node, key):
        m = node.metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == key:
                return kv._2().value()
        return None

    def _walk(node, under_window):
        nm = node.nodeName()
        if nm == "Exchange" and under_window:
            if "SinglePartition" in node.toString().splitlines()[0]:
                found.append(_metric(node, "shuffleRecordsWritten"))
            under_window = False
        ch = node.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), under_window or "Window" in nm)

    _walk(plan, False)
    return found


def test_global_window_inputs_bounded_at_sf01(spark):
    """The driver-scale GLOBAL windows (unpartitioned WindowExec — the
    known 'No Partition Defined' WARN) are safe only because their
    input frames are aggregate-collapsed far below corpus scale. Lock
    that as MEASURED row counts at sf0.1 via the single-partition
    exchange metric, so a refactor that silently widens a frame (e.g.
    ranking per-event rows instead of the per-day aggregate) fails here
    as a number, not as a perf cliff at 100 TB. Bounds are structural:
    the testdata spans 31 days at every SF (rows grow, days don't), the
    replica spine is a 64-row literal, the BH family is #types x 24
    cells, and the synthetic vocabulary is 30 words + markers (on a
    real corpus the vocab rank would move to the distributed
    prefix-sum like corpus_zipf_slope if it outgrew one partition)."""
    sf_dir = "/root/testdata/sf0.1"
    # offsets-class windows (the #buckets x #groups frame inside
    # global_running_sum's distributed prefix-sum) scale with the
    # shuffle-partition CONFIG, not the data — bound those relative to
    # the session's setting
    P = int(spark.conf.get("spark.sql.shuffle.partitions")) + 8
    bounds = {
        # life table: one row per distinct conversion/censor duration
        "user_conversion_life_table": 40,
        # DiD bootstrap: the 64-row replica-spine rank window
        "segment_did_bootstrap": 64,
        # BH-FDR: the (event_type x hour-of-day) hypothesis family
        "hourly_value_bh_fdr": 240,
        # vocab rank: train-fold vocabulary (30-word synthetic vocab)
        "vocab_coverage_eval": 64,
        # skyline: the distinct (price-bracket, size) frontier frame
        "part_price_size_skyline": 256,
        # ACF: the #days series frame
        "daily_value_acf": 40,
        # AMS: the fixed 8-sketch median frame
        "join_size_ams_estimate": 16,
        # mixture plan: the #languages frame
        "corpus_mixture_plan": 8,
        # decile curve: 10 deciles + a prefix-sum offsets window
        "uplift_decile_curve": max(16, P),
        # prefix-sum offsets windows (#buckets rows by construction)
        "doc_dsir_weights": P,
        "customer_revenue_gini": P,
        "customer_rfm_segments": P,  # r10: exact distributed ntile
        "incident_concurrency_profile": P,
        "event_value_equidepth_hist": P,
        "corpus_zipf_slope": P,
        "doc_weighted_quality_quantiles": P,
        "doc_sorted_neighborhood_pairs": P,
        "classifier_auc_eval": P,
    }
    # AQE pinned off ONCE around a concurrent sweep (the per-call conf
    # toggle in _global_window_input_rows is not thread-safe, and the
    # 15 sf0.1 executions are independent — guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            measured = dict(
                zip(
                    bounds,
                    pool.map(
                        lambda n: _global_window_input_rows(spark, n, sf_dir),
                        bounds,
                    ),
                )
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    for name, bound in bounds.items():
        rows = measured[name]
        assert rows, f"{name}: expected a single-partition window exchange"
        assert max(rows) <= bound, (name, rows, bound)


def test_global_window_allowlist_swept_repo_wide(spark):
    """EVERY unpartitioned window in EVERY batch registry query must be
    on this allowlist — the repo-wide closure of the bounded-frame audit
    (the four highest-risk members additionally have MEASURED row bounds
    in test_global_window_inputs_bounded_at_sf01). A global window is
    the one plan shape that silently serializes at corpus scale, so a
    NEW query (or a refactor of an old one) that introduces one must
    consciously register here, with the same justification discipline
    as the existing 18: either the frame is aggregate-collapsed to
    driver scale (cells/replicas/days/deciles/buckets), or it is the
    #buckets x #groups offsets window inside ops.relational.
    global_running_sum's distributed prefix-sum (zipf, sorted
    neighborhood, mixture plan, equi-depth, AUC, quantile family)."""
    allowed = {
        # driver-scale aggregate frames (see the docstrings in place)
        "part_price_size_skyline",      # distinct (price, size) frontier
        "hourly_value_bh_fdr",          # 120-cell hypothesis family
        "daily_value_acf",              # #days series frame
        "doc_dsir_weights",             # #buckets importance table
        "user_conversion_life_table",   # distinct-durations frame
        "customer_revenue_gini",        # per-customer rank via prefix sum offsets
        "customer_rfm_segments",        # prefix-sum rank offsets (r10: exact distributed ntile)
        "join_size_ams_estimate",       # 64-sketch-row medians
        "uplift_decile_curve",          # 10-decile frame
        "segment_did_bootstrap",        # 64-row replica spine
        "incident_concurrency_profile", # incident boundary events
        "event_value_equidepth_hist",   # distinct-value prefix sums
        "corpus_zipf_slope",            # prefix-sum offsets window
        "doc_weighted_quality_quantiles",  # weighted-quantile offsets
        "doc_sorted_neighborhood_pairs",   # prefix-sum rank offsets
        "corpus_mixture_plan",          # per-language mixture table
        "vocab_coverage_eval",          # train-fold vocabulary ranks
        "classifier_auc_eval",          # distinct-score prefix sums
    }

    def global_window_count(df) -> int:
        hits = 0

        def walk(node):
            nonlocal hits
            if (
                node.getClass().getSimpleName() == "Window"
                and node.partitionSpec().isEmpty()
            ):
                hits += 1
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().optimizedPlan())
        return hits

    from concurrent.futures import ThreadPoolExecutor

    names = [
        n for n, q in REGISTRY.items() if not getattr(q, "skip_bench", False)
    ]  # streaming gates run real streams; audited separately

    # builds only (no execution) — but eager-build queries run real
    # jobs, so the sweep parallelizes across a pool (guide §2.6)
    with ThreadPoolExecutor(max_workers=12) as pool:
        counts = list(
            pool.map(
                lambda n: global_window_count(REGISTRY[n].build(spark, SF_DIR)),
                names,
            )
        )
    offenders = {
        name: n for name, n in zip(names, counts) if n and name not in allowed
    }
    assert not offenders, (
        f"unregistered GLOBAL windows (one-task sort at corpus scale): "
        f"{offenders} — collapse the frame to driver scale, use "
        f"global_running_sum, or consciously add to the allowlist"
    )


def test_classify_broadcast_growth_pure():
    """Pure-function spec of the growth classifier the repo-wide
    broadcast guard and scripts/broadcast_audit.py share."""
    from smartpool_bigdata_spark.plans import classify_broadcast_growth

    # bounded: same rows across a decade (aggregate profile)
    assert classify_broadcast_growth([120], [120]) == [(120, 120, "bounded")]
    # linear: ~10x growth past the floor (raw dim scan)
    assert classify_broadcast_growth([150], [1500]) == [(150, 1500, "linear")]
    # tiny frames never flag, whatever the ratio (wobble floor)
    assert classify_broadcast_growth([3], [30]) == [(3, 30, "bounded")]
    # zero small-side rows with a big top side: unknowable denominator
    assert classify_broadcast_growth([0], [900]) == [(0, 900, "linear")]
    # plan shape changed between SFs -> unpaired, never silently passed
    assert classify_broadcast_growth([5], [10, 2000]) == [
        (None, 10, "unpaired"),
        (None, 2000, "unpaired"),
    ]
    # sub-half-ratio growth is bounded (saturating frames)
    assert classify_broadcast_growth([400], [1200]) == [(400, 1200, "bounded")]


def test_no_forced_linear_broadcasts(spark):
    """REPO-WIDE forced-broadcast growth guard (the r10 verdict's #5
    ask — the r10 version covered only the 12 audited queries). With
    auto-broadcast disabled, any BroadcastExchange left in the plan is
    an EXPLICIT hint — the only kind that can OOM at cluster scale
    (Catalyst's own threshold choices self-revert to shuffle joins).
    Every batch registry query runs at sf0.001 AND sf0.01 (AQE off,
    threshold -1); each forced broadcast's row counts are paired by
    plan position and growth-classified (plans.classify_broadcast_
    growth): a frame that grows ~linearly across the decade past the
    wobble floor is a would-OOM-at-100TB hazard and fails here, so a
    NEW query cannot reintroduce the class the r10 audit removed. The
    bounded-frame allowlist below is the only exemption mechanism —
    every entry needs a disclosed reason."""
    from smartpool_bigdata_spark.plans import (
        broadcast_rows,
        classify_broadcast_growth,
    )
    from smartpool_bigdata_spark.queries import REGISTRY

    # Disclosed exemptions: forced broadcasts that grow across THIS
    # decade (sf0.001→sf0.01) but are safe at scale for one of two
    # reasons, each priced in SCALE.md's broadcast ledger. Keep this
    # list short and justified — it is the only exemption mechanism.
    ALLOWED_LINEAR: dict[str, str] = {
        # (a) saturating-by-construction sketch frames: capped at a
        # fixed cell count, still filling at these tiny SFs
        "orders_bloom_prefilter": "bits frame caps at _BLOOM_M=16384 "
        "distinct positions (450 @ sf0.01); dim-keys frame is the "
        "acctbal>9000 slice, ~10% customer coefficient (ledger)",
        "event_heavy_hitters_cms": "d*w CMS grid caps at _CMS_D*_CMS_W "
        "cells; 450 filled @ sf0.01, saturates by sf0.1",
        # (b) selective-filter dim slices Catalyst cannot estimate
        # through (SCALE.md r10 ledger: ~8-20% of a dim's coefficient;
        # at the 100 TB point the hint yields to executor-memory
        # sizing via session.scale_conf)
        "bilateral_shipping_volume": "Q7 two-nation customer slice",
        "region_market_share": "Q8 region customer + type part slices",
        "supplier_nation_margin": "Q9 p_name-filtered part slice",
        "supplier_diversity_counts": "Q16 brand/type/size part slice",
        "segment_shipping_priority": "Q3 one-segment customer slice",
        "small_part_hoarding_suppliers": "size-filtered part slice",
        # (c) fixture-growth artifacts: frames bounded BY CONSTRUCTION
        # in production but derived from the corpus in the synthetic
        # fixture, so they scale with SF here
        "doc_decontamination": "benchmark n-gram frame — a real "
        "decontamination run broadcasts a FIXED eval set; the fixture "
        "samples bench docs from the corpus (doc_id % 40)",
        "llm_corpus_pipeline_v2": "same bench-gram frame as "
        "doc_decontamination (shared decontamination stage)",
    }

    small_sf, big_sf = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    # documents/embeddings are IDENTICAL between sf0.001 and sf0.01
    # (500/500 docs, 500/200... the driver only grows them at sf0.1),
    # so corpus growth is invisible to that decade for text/vector
    # queries — they compare sf0.01 → sf0.1 instead. This blind spot
    # hid two real linear hints until the r11 three-tier audit
    # (embedding_semdedup's pruned set, knn_lsh_hamming's corpus va).
    doc_big_sf = "/root/testdata/sf0.1"
    names = [
        n for n, q in REGISTRY.items() if not getattr(q, "skip_bench", False)
    ]  # streaming/staged gates run real streams; audited separately
    # (their static frames ride the batch twins)

    def _measure(name):
        q = REGISTRY[name]
        df = q.build(spark, big_sf)
        plan_txt = df._jdf.queryExecution().executedPlan().toString()
        static_corpus = "documents" in plan_txt or "embeddings" in plan_txt
        big = broadcast_rows(
            spark, q.build, doc_big_sf if static_corpus else big_sf,
            forced_only=True, manage_confs=False,
        )
        if not big:
            return name, None, None  # no explicit hints in the plan
        small = broadcast_rows(
            spark, q.build, big_sf if static_corpus else small_sf,
            forced_only=True, manage_confs=False,
        )
        return name, small, big

    # Confs pinned ONCE around the whole sweep (they are session-global,
    # so the per-call toggle is not thread-safe), then the measurements
    # run CONCURRENTLY — independent actions overlap in one session
    # (guide §2.6); sequential execution of 2x the registry dominated
    # the suite wall at 8 threads idle.
    from concurrent.futures import ThreadPoolExecutor

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            measured = list(pool.map(_measure, names))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.catalog.clearCache()

    offenders: dict[str, list] = {}
    unpaired: dict[str, list] = {}
    for name, small, big in measured:
        if big is None:
            continue
        labels = classify_broadcast_growth(small, big)
        linear = [(s, b) for s, b, label in labels if label == "linear"]
        unknown = [
            b for s, b, label in labels if label == "unpaired" and b > 100
        ]
        if linear and name not in ALLOWED_LINEAR:
            offenders[name] = linear
        if unknown:
            unpaired[name] = unknown
    assert not offenders, (
        f"forced broadcast of a corpus-growing frame: {offenders} — "
        "drop the hint (let the size threshold own it), pin "
        "shuffle_hash, or add a justified ALLOWED_LINEAR entry; see "
        "SCALE.md's broadcast ledger"
    )
    assert not unpaired, (
        f"plan shape changed between SFs, growth unknowable for: "
        f"{unpaired} — re-audit by hand (scripts/broadcast_audit.py)"
    )
