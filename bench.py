#!/usr/bin/env python
"""Benchmark runner — the driver's per-round perf gate.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is forced through the `noop` sink so the full plan (including
projections) executes — `.count()` would let Catalyst prune the work.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdw_spark.registry import load_all
from cdw_spark.session import codegen_compiles, get_spark

# Headline set: the flagship fact join + one representative per operator
# family (agg, multi-join, window, time windows, time dim) + the
# large-scale-pipeline operators as they land.
HEADLINE = [
    "star_fact_join",
    "agg_pricing_summary",
    "join_agg_topk",
    "multi_join_groupby",
    "asof_join_clicks",
    "range_join_bucketed",
    "agg_stats",
    "tpch_q6_revenue_forecast",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "window_rank_topk",
    "window_running_sum",
    "tumbling_window_agg",
    "session_window_agg",
    "time_dim",
    "dedup_exact",
    "dedup_minhash_lsh",
    "curation_pipeline",
    "text_quality",
    "text_rolling_fingerprint_arrow",
    "similarity_topk",
    "similarity_ann_ivf",
    # added round 2 with the bucketed rewrites (hamming-ball equi-joins):
    "similarity_ann_lsh",
    "similarity_pairs_topn",
    # dataset-curation layer (suite/datasetops.py) + the 6-way snowflake:
    "tpch_q5_local_supplier_volume",
    "decontaminate_ngrams",
    "quality_repetition",
    "merge_incremental_upsert",
    # round 3: wide-signature near-dup ANN + n-gram LM stats
    "similarity_ann_lsh_wide",
    "text_bigram_topk",
    # round 3: retrieval / graph / sketch / timeseries layer
    "text_bm25_search",
    "graph_pagerank",
    "sketch_cms_wordfreq",
    "timeseries_gapfill_locf",
    "embedding_random_projection",
    # round 3 late additions: event analytics, LM scoring, audio, shuffle
    "funnel_conversion",
    "cohort_retention",
    "knn_label_vote",
    "text_bigram_lm_score",
    "multimodal_audio_rms",
    "text_inverted_index",
    "global_shuffle_rank",
    # round 3 second wave: span-level + semantic dedup, model-based
    # quality, diversified rerank, positional phrase search, CDC, images
    "dedup_paragraphs",
    "dedup_semantic",
    "quality_model_score",
    "similarity_mmr_rerank",
    "text_phrase_search",
    "cdc_snapshot_diff",
    "multimodal_image_near_dup",
    "incremental_join_merge",
    "interval_overlap_join",
    "dq_expectations",
    # capstones: value-oracled linear algebra + approximate-graph analytics
    "embedding_pca_top_component",
    # round 10: at-rest kNN graph artifact build — placed BEFORE the
    # first family consumer so the one-time build cost lands on the
    # index op and every graph_* entry below is statistic-only
    "graph_knn_materialize",
    "graph_knn_triangles",
    "dedup_containment",
    # round 3 final wave: rank ensembling + experiment/privacy/drift audits
    "rank_fusion_rrf",
    "ab_test_lift",
    "kanonymity_audit",
    "timeseries_cusum",
    # round 3 closing wave: collocations, recommender, robust trend, k-hop
    "text_pmi_collocations",
    # round 10: at-rest co-occurrence list build — before the first
    # family consumer so the one-time build cost lands on the index op
    "recs_lists_materialize",
    "recs_item_cooccurrence",
    "timeseries_theilsen_trend",
    "graph_khop_reach",
    "events_stickiness_rolling",
    "corpus_vocab_overlap",
    "skyline_pareto_orders",
    "graph_link_prediction",
    "similarity_ann_pq",
    "timeseries_gapfill_interpolate",
    "intervals_max_concurrency",
    "agg_median_exact_banded",
    # round 4: the PQ-ADC identity configuration with a full value oracle
    "similarity_ann_pq_exact",
    # round 4: span dedup, in-plan classifiers, exact k-means, curation v2
    "dedup_exact_substring",
    "quality_nb_langid",
    "quality_gopher_rules",
    "dsir_importance_weights",
    "clustering_kmeans_exact",
    "curation_pipeline_v2",
    "timeseries_max_drawdown",
    # round 5: the newly value-oracled conversions (simhash + the
    # sessionizer state machine are real per-round costs worth tracking)
    "dedup_simhash",
    "stream_stateful_sessionize",
    "multimodal_features",
    # round 5: new operators — leakage-safe splitting, ingest-door
    # SemDeDup, IVF index maintenance
    # round 11: at-rest near-dup component artifact build — placed BEFORE
    # the first family consumer so the one-time build cost lands on the
    # index op and the five component consumers are statistic-only
    "dedup_components_materialize",
    "sample_split_leakage_safe",
    "stream_semantic_ingest",
    "similarity_ivf_incremental",
    # round 5 second wave: community detection, bloom pruning, KMV sketch,
    # contrastive negatives, PPJoin prefix filtering, robust/weighted
    # exact aggregates, feature hashing, and the cheap audit tail
    "graph_label_propagation",
    "sketch_bloom_filter_join",
    "sketch_kmv_distinct",
    "sample_negative_pairs",
    "dedup_ngram_prefix_filter",
    "agg_trimmed_mean",
    "agg_weighted_median",
    "text_feature_hashing",
    "window_gaps_islands",
    "dq_benford_audit",
    "ldiversity_audit",
    "sample_time_holdout",
    # round 6: hypothesis-testing trio, privacy EMD, temperature mix,
    # audio VAD, lag-1 ACF, and the composed IVF-PQ search
    "agg_mann_whitney_u",
    "agg_chi_square_independence",
    "agg_spearman_rho",
    "tcloseness_audit",
    "mix_temperature_sampling",
    "multimodal_audio_vad",
    "timeseries_autocorr_lag1",
    "similarity_ann_ivfpq",
    "timeseries_mann_kendall",
    "agg_ks_two_sample",
    "sample_coreset_kcenter",
    # round 6 second wave: information-theoretic audits, corpus Zipf
    # fingerprint, rolling regression, Neyman allocation
    "agg_mutual_information",
    "text_zipf_slope",
    "window_rolling_ols_slope",
    "sample_neyman_allocation",
    # round 6 third wave: ingest-door drift, burstiness, HITS
    "stream_drift_chi_square",
    "text_burstiness",
    "graph_hits_scores",
    "events_markov_stationary",
    "agg_theil_index",
    # round 6 fourth wave: the evaluation-metrics layer
    "eval_langid_classification_report",
    "eval_retrieval_ndcg",
    # round 7: evaluation (AUC, kappa), multiple-testing control,
    # lexical diversity, robust despiking, realized volatility,
    # subsample CI, Hilbert layout, graph clustering coefficient,
    # matryoshka truncation recall, audio constellation near-dup
    "eval_binary_auc",
    "agg_cohens_kappa",
    "quality_ttr_lexical_diversity",
    "agg_benjamini_hochberg",
    "timeseries_realized_volatility",
    "timeseries_hampel_outliers",
    "sample_subsample_ci",
    "layout_hilbert_order",
    "graph_clustering_coefficient",
    "embedding_matryoshka_recall",
    "multimodal_audio_constellation",
    # round 7 third wave: Bollinger channel, A/B power, PSI drift,
    # split-half centroid stability
    "window_bollinger_bands",
    "sample_ab_power_analysis",
    "profile_psi_drift",
    "embedding_centroid_drift",
    # round 7 fourth wave: robust location, SCD2 temporal join, image
    # resize round trip, bloom-audited exact dedup at the door
    "agg_hodges_lehmann",
    "scd2_point_in_time_lookup",
    "multimodal_image_resize_digest",
    "stream_bloom_dedup_ingest",
    # round 7 fifth wave: Welch t-test, two-pass exact heavy hitters,
    # Nelson-Aalen survival, longest-prefix-match lookup, Holt smoothing
    "agg_welch_ttest",
    "agg_heavy_hitters_two_pass",
    "survival_nelson_aalen",
    "lookup_longest_prefix",
    "timeseries_holt_linear",
    # round 8: effect sizes, series diagnostics, funnel, novelty decay,
    # split-doc boundary, basket lift, padding audit, whitening
    "agg_cramers_v",
    "agg_cohens_d",
    "eval_mcc_binary",
    "timeseries_ewma_signal",
    "window_max_drawdown",
    "timeseries_seasonal_strength",
    "events_funnel_conversion",
    "text_novelty_decay",
    "dedup_split_doc_boundary",
    "basket_pair_lift",
    "batch_padding_waste",
    "embedding_whitening_digest",
    "agg_exact_delay_quantiles",
    "eval_calibration_ece",
    # round 9: paired/divergence/reliability statistics, ranking
    # metrics, behavior and interval analytics, DQ audits (all 17
    # additions — none carries a kendall-style fixed-codegen constant)
    "agg_wilcoxon_signed_rank",
    "agg_jensen_shannon",
    "events_interarrival_burstiness",
    "agg_permutation_entropy",
    "agg_cronbach_alpha",
    "agg_covariance_matrix_digest",
    "eval_retrieval_mrr",
    "eval_average_precision",
    "window_rsi",
    "sample_dedup_aware_weights",
    "text_heaps_law",
    "events_power_law_alpha",
    "intervals_union_coverage",
    "asof_join_nearest",
    "graph_adamic_adar",
    "eval_brier_decomposition",
    "dq_id_sequence_audit",
    "agg_stump_split_gain",
    "dq_order_total_consistency",
    "mix_waterfill_budget",
    "sample_pps_systematic",
    "timeseries_hurst_rs",
    "events_transition_entropy",
    "agg_kruskal_wallis",
    "agg_anova_oneway",
    "eval_log_loss",
    "agg_levene_brown_forsythe",
    "graph_degree_assortativity",
    "text_flesch_reading_ease",
    "dq_freshness_lag",
    "window_ulcer_index",
    "sample_horvitz_thompson",
    "agg_lorenz_curve",
    "timeseries_acf_profile",
    "window_sortino_ratio",
    "agg_bowley_skewness",
    "stream_freshness_monitor",
    "events_audience_overlap",
    "window_atr",
    "graph_harmonic_centrality",
    "curation_rule_ablation",
    "embedding_hubness_audit",
    "timeseries_variance_ratio",
    "text_entropy_rate",
    "agg_runs_test",
    "text_hapax_ratio",
    "graph_rich_club",
    "recs_markov_next_event",
    "events_error_mtbf",
    # round 10 second wave: targeting table, portmanteau, range volatility
    "eval_lift_gains_table",
    "timeseries_ljung_box",
    "window_parkinson_volatility",
    # round 10 third wave: reservoir sampling, dedup shape, embedding QA
    "sample_weighted_reservoir",
    "dedup_cluster_size_profile",
    "embedding_norm_outlier_audit",
    # round 10 fourth wave: cohort economics, survival eval, recsys audit
    "events_cohort_ltv_curve",
    "survival_concordance_cindex",
    "recs_catalog_coverage",
    # round 10 fifth wave: KM survival, recall@k, activity calendar
    "survival_kaplan_meier",
    "eval_retrieval_recall_at_k",
    "events_dow_hour_profile",
    # round 10 sixth wave: MASE screen, k-fold audit, recsys holdout eval
    "timeseries_mase_seasonal_naive",
    "sample_kfold_assignment",
    "recs_basket_holdout_eval",
    # round 10 eighth wave: volume anomaly, double-fire audit, Donchian
    "dq_volume_anomaly_daily",
    "dq_duplicate_payload_rate",
    "window_donchian_breakout",
    # round 10 ninth wave: dispersion gate, retention half-life
    "agg_dispersion_index",
    "events_retention_halflife",
    # round 11 second wave: McNemar paired test, stochastic %K,
    # popularity-baseline recommender eval
    "agg_mcnemar_paired",
    "window_stochastic_oscillator",
    "recs_popularity_baseline_eval",
    # round 12 first wave: at-rest 8-word block-occ artifact build —
    # placed BEFORE its two consumers below so the cold run charges the
    # one-time build to the materialize op (the component-artifact rule)
    "text_blocks_materialize",
    # round 11 third wave: source block audits, key uniqueness
    "text_source_boilerplate_share",
    "text_cross_source_contamination",
    "dq_uniqueness_profile",
    # round 11 fourth wave: Cochran Q, style divergence, Poisson bootstrap
    "agg_cochran_q",
    "text_source_style_divergence",
    "sample_poisson_bootstrap",
    # round 11 fifth wave: Jarque-Bera gate, Simpson diversity
    "agg_jarque_bera",
    "text_simpson_diversity",
    # round 12 second wave: blocked rank test, lag-1 serial correlation,
    # rank changepoint
    "agg_friedman_test",
    "timeseries_durbin_watson",
    "timeseries_pettitt_changepoint",
    # round 12 third wave: OBV, Aroon, recommendation novelty
    "window_obv",
    "window_aroon",
    "recs_item_novelty",
    # round 12 fourth wave: Wasserstein, weekly KS drift, OCR scorer
    "agg_wasserstein_1d",
    "events_weekly_ks_drift",
    "text_ocr_garbage_score",
    # round 12 fifth wave: Page trend, exposure Gini
    "agg_page_trend_test",
    "recs_gini_diversity",
    # round 12 sixth wave: partial correlation, cross-correlation
    "agg_partial_correlation",
    "timeseries_cross_correlation",
    "agg_mood_median",
    "agg_conover_squared_ranks",
    "agg_cvm_two_sample",
    "agg_cliffs_delta",
    "timeseries_spectral_entropy",
    "timeseries_sample_entropy",
    "timeseries_kpss",
    "timeseries_cox_stuart",
    "timeseries_turning_points",
    "timeseries_bartels_rank",
    "text_yule_k",
    "text_msttr",
    "text_burrows_delta",
    "window_vwap_deviation",
    "window_chaikin_money_flow",
    "window_ichimoku",
    "dq_last_digit_heaping",
    "agg_lorenz_asymmetry",
    "ab_test_cuped",
    "embedding_twonn_intrinsic_dim",
    "graph_neighbor_jaccard",
    "embedding_coordinate_kurtosis",
    "agg_moors_kurtosis",
    "events_markov_order_test",
    "dq_timestamp_heaping",
    "agg_gini_mean_difference",
    "window_pivot_points",
    "agg_quartile_dispersion",
    "agg_hoover_index",
    "agg_effective_cardinality",
    "events_daily_load_factor",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="cdw_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    # Untimed warmup at the smallest SF: pays one-time JVM costs (codegen
    # compilation — the unrolled vector expressions cost Janino seconds,
    # Hadoop FS init, parquet footer readers, broadcast machinery) outside
    # the measurement — standard JVM bench methodology; per-query numbers
    # then reflect steady-state data-proportional throughput. The compiled
    # classes survive into the timed loop because get_spark sizes the
    # codegen cache above the suite's working set; a timed query still
    # compiles where its plan differs from the sf0.001 one (a join
    # strategy picked by size). The sidecar records both counts.
    compiles_before = codegen_compiles(spark)
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is not None:
            spec.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
    warmup_compiles = codegen_compiles(spark) - compiles_before

    # Artifact discipline (VERDICT r10 'What's wrong' #1): by default the
    # timed loop starts COLD — the at-rest index store is cleared after
    # warmup, so the one-time build cost of every *_materialize op lands
    # on the timed record instead of silently inheriting whatever state
    # the host holds. Run2 of the canonical pair sets
    # SPARK_GRAFT_BENCH_ARTIFACTS=warm to measure the steady-state scans;
    # both states are stamped into the record.
    artifact_state = os.environ.get("SPARK_GRAFT_BENCH_ARTIFACTS", "cold")
    if artifact_state != "warm":
        from cdw_spark.operators.artifacts import clear_all

        clear_all()
        artifact_state = "cold"

    timings: dict[str, float] = {}
    # Per-query start offsets (monotonic seconds since the timed loop
    # began): a contiguous host-contention window — the dominant
    # measurement error on this host (VERDICT r12 #4) — is identifiable
    # from the record alone as a run of adjacent-offset slow queries.
    # Additions-only: the existing metric/value/queries contract is
    # untouched.
    start_offsets: dict[str, float] = {}
    compiles: dict[str, int] = {}
    loop_t0 = time.monotonic()
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is None:
            continue
        # fn() is INSIDE the timed window: plan construction is part of
        # the query, and operators that eagerly materialize (pagerank /
        # khop localCheckpoint) would otherwise do their heavy lifting
        # before t0 and report near-zero.
        start_offsets[name] = round(time.monotonic() - loop_t0, 3)
        compiles_before = codegen_compiles(spark)
        t0 = time.time()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        compiles[name] = codegen_compiles(spark) - compiles_before
        # Untimed housekeeping: gc.collect() alone is NOT enough —
        # localCheckpoint blocks are freed only when the JVM-side RDD is
        # garbage collected, which is lazy; measured in round 8, ~16
        # persistent RDDs survived gc.collect() and the accumulated
        # storage pressure inflated UNRELATED late-run queries 3-5x
        # (welch 0.44 -> 2.18 s). Each query's own checkpoint cost stays
        # inside its timed window; this only stops cross-query leakage.
        gc.collect()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "artifact_state": artifact_state,
        "start_offsets": start_offsets,
    }
    # VERDICT r9 'What's wrong' #3: at 200+ headline queries the one-line
    # print exceeds what the driver's bench capture records (BENCH_r09
    # arrived truncated mid-JSON with ~63 of 206 per-query numbers).
    # Persist the COMPLETE record next to the repo so every round's full
    # per-query map survives regardless of stdout capture limits — the
    # close commits the canonical pair as BENCH_LOCAL_r{N}_run*.json, and
    # this sidecar is the always-current fallback.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LATEST.json"
    )
    # Classes compiled by Spark's code generator, in the warmup and per
    # timed query: sidecar only, the printed line stays as it was.
    full_record = {
        **record,
        "codegen_compiles": {"warmup": warmup_compiles, "queries": compiles},
    }
    try:
        with open(sidecar, "w") as f:
            json.dump(full_record, f, indent=1)
    except OSError:
        pass  # read-only checkout: stdout remains the record
    print(json.dumps(record))


if __name__ == "__main__":
    main()
