"""Empty-input robustness: a fresh partition, an all-filtered read, or a
not-yet-landed table must degrade to an empty (or dim-only) result — never
a driver-side IndexError from a seed collect, a divide-by-zero, or a
window over nothing. Every family representative runs against a fixture
directory of schema-correct but row-free tables."""

from __future__ import annotations

import pytest

from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.sources.tables import TABLE_SCHEMAS

REPRESENTATIVES = [
    "flagship_nation_price_dev",
    "window_max_fill",
    "moments_skew_kurtosis",
    "scd2_purchase_history",
    "merge_upsert_user_state",
    "dedup_exact_groups",
    "dedup_exact_by_hash",
    "neardup_minhash_lsh",
    "knn_join_topk",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_volume",
    "events_session_window",
    "token_topk",
    "top1_recency",
    "timeseries_forward_fill",
    "full_outer_join_nation_counts",
    "histogram_extendedprice",
    "timeseries_hourly_gapfill",
    "lang_id_ngram",
    "simsearch_topk_cosine",
    "corpus_mixture_resample",
    "trainset_selection_pipeline",
    "cohort_retention_daily",
    "steam_job1_prices_etl",
    "chunk_dedup_ratio",
    "simsearch_pq_adc_topk",
    "kmeans_embeddings",
    "streaming_fullouter_interval_join",
    # round-2 additions
    "doc_unigram_lm_quality",
    "boilerplate_strip_rebuild",
    "minhash_estimate_error",
    "simsearch_recall_eval",
    "multimodal_audio_windows",
    "graph_neardup_triangles",
    "trainset_curriculum_shards",
    "streaming_multires_rollup",
    "dedup_pipeline_report",
    "bpe_train_merges",
    "bpe_apply_compression",
    "dedup_cluster_sizes",
    # data-selection / sketch tier (plans/corpus_select.py)
    "dsir_importance_select",
    "bloom_prefilter_decontam",
    "weighted_sample_expkeys",
    "doc_char_entropy",
    "cms_heavy_hitters",
    # retrieval + semantic/substring dedup (plans/retrieval.py, semantic_dedup.py)
    "bm25_search_topk",
    "semdedup_prune",
    "substring_dup_spans",
    "simsearch_ivf_pq_topk",
    "frequent_itempairs",
    "hybrid_rrf_fusion",
    "interval_overlap_bin_join",
    "k_anonymity_report",
    "timeseries_twap",
    # storage-layout / reconciliation / n-gram-LM families
    "bucketed_join_no_shuffle",
    "zorder_cell_stats",
    "snapshot_diff_report",
    "doc_bigram_lm_quality",
    "gopher_quality_rules",
    "attribution_last_touch",
    "ohlc_bars",
    "equidepth_histogram",
    "simsearch_int8_rerank",
    "dp_noisy_release",
    "chisq_segment_region",
    "incremental_agg_merge",
    "session_ids_batch",
    "embedding_dim_stats",
    "contrastive_negatives",
    "collocations_pmi",
    "quality_calibration_bins",
    "ab_test_welch",
    "simsearch_multiprobe_lsh",
    "drift_psi_report",
    "seasonal_anomaly_hours",
    "ab_cuped_adjusted",
    "survival_km_curve",
    "benford_digit_audit",
    "vocab_growth_curve",
    "source_vocab_overlap",
    "ab_stratified_ate",
    "effective_vocab_by_source",
    "zipf_fit_by_source",
    # round-2c decision-support / diagnostics additions (group-keyed
    # outputs that must vanish on empty facts; the always-1-row global
    # aggregates — skew/join audits, column profile, OLS, power/MDE —
    # are intentionally not here, matching the datasheet precedent)
    "item_item_cosine",
    "spatial_cell_join",
    "containment_dedup_pairs",
    "acf_daily_revenue",
    "cusum_changepoint",
    "rfm_segments",
    "forecast_backtest_snaive",
    "record_linkage_blocking",
    "golden_record_consolidation",
    "l_diversity_report",
    "holt_trend_smoothing",
    "ledger_hash_chain",
    "pca_power_iteration",
    # round-2d pattern tier (plans/patterns.py, graph_ops.py)
    "event_pattern_match",
    "pareto_frontier_parts",
    "dbscan_grid_clusters",
    "trainset_group_holdout",
    "kcore_neardup_graph",
    "streaming_event_pattern",
    "hll_sketch_rollup",
    "textrank_keywords",
    "frequent_event_sequences",
    "weighted_median_price",
    "xcorr_error_revenue",
    "ks_two_sample_drift",
    "multimodal_phash_neardup",
    "forecast_conformal_interval",
    "holdout_lm_perplexity",
    "attribution_position_based",
    "linkpred_neighbor_jaccard",
    "stl_decomposition_lite",
    "markov_next_event_eval",
    "interarrival_burstiness",
    # round-3 additions (dedup_shadow_agreement and
    # ab_difference_in_differences are always-1-row global aggregates —
    # excluded like OLS/JL per the datasheet precedent above)
    "attribution_shapley",
    "forecast_pinball_quantiles",
    "bm25_ndcg_vs_semantic",
    "quality_isotonic_calibration",
    "ab_uplift_qini",
    # jl_projection_distortion is an always-1-row global aggregate
    # (n_pairs=0 on empty input in BOTH engines) — excluded like OLS and
    # the skew audits, per the datasheet precedent above.
    # round-3c ML-eval tier (the stump/Brier/KMV queries are
    # always-1-row global aggregates — excluded per the same precedent)
    "naive_bayes_lang_eval",
    "label_propagation_communities",
    # round-4 eval tier (group-keyed outputs; all must vanish on empty)
    "cv_fold_rmse",
    "learning_curve_scaling",
    "dedup_threshold_sweep",
    "tokenizer_fertility",
    "dedup_incremental_delta",
    "ridge_lambda_sweep",
    "target_encoding_loo",
    "feature_hashing_trick",
    "doremi_mixture_weights",
    "cv_groupkfold_rmse",
    # round-5 tier (group-keyed outputs; the always-1-row global
    # aggregates — cluster NMI, RBO, IPS, CEM, RDD, the
    # constant-grid LSH planner and the rollup sketch's grand-total
    # row — are excluded per the datasheet precedent above)
    "sprt_sequential_monitor",
    "wasserstein_1d_drift",
    "association_rules_confidence",
    "data_pruning_surprisal",
    "template_slot_entropy",
    "embedding_outlier_zscore",
    "woe_iv_binning",
    "lang_sampling_temperature",
    "source_overlap_matrix",
    "ab_benjamini_hochberg",
    "vocab_coverage_sweep",
    "attribution_markov_removal",
    "mixture_token_allocation",
    "bandit_ucb_replay",
    "gbm_stumps_two_rounds",
    # round-6 tier (group-keyed outputs; the always-1-row global
    # aggregates — the LSH recall counts row, the shard-skew summary and
    # the covariate-shift grand-total row — are excluded per the
    # datasheet precedent above)
    "substring_dedup_keep_first",
    "eval_reservoir_sample",
    "quality_calibration_drift",
    "ngram_novelty_curve",
    "embedding_label_centroid_drift",
    "hard_negative_mining",
    "rolling_origin_backtest",
    "bigram_entropy_rate",
    "group_sequential_obf",
    # round-6 part B (the always-1-row anisotropy summary is excluded
    # per the datasheet precedent; rm3 has its own dim-backed test below)
    "neyman_allocation",
    "confident_learning_noise",
    "kneser_ney_bigram_ppl",
    # round-6 part C (all keyed grains or explicit empty frames)
    "psi_value_drift",
    "raking_ipf_weights",
    "data_constrained_scaling",
    "hits_event_graph",
    "hill_tail_index",
    "shard_order_autocorr",
    # round-6 part D (kappa's always-1-row summary excluded per the
    # datasheet precedent)
    "good_turing_unseen_mass",
    "quantile_normalize_scores",
    "jackknife_source_influence",
    # round-6 part E
    "winnowing_fingerprint_density",
    "topk_token_churn",
    "burrows_delta_stylometry",
    # round-6 part F (chinchilla's constant-grid frame excluded per the
    # datasheet precedent — it reports 5 NULL-supply rows on empty)
    "heaps_law_fit",
    "kanon_generalization_sweep",
    # round-6 part G
    "join_cardinality_audit",
    "zonemap_pruning_audit",
    # round-7 tier (the 1-row NULL-stat reporters — fleiss_kappa_rules,
    # theil_sen_daily_trend, dedup_keeper_policy_eval — are covered by
    # test_round7_null_stat_reports_on_empty instead, per the
    # datasheet/chinchilla precedent)
    "streaming_enriched_tumbling_agg",
    "pii_pattern_audit",
    "spearman_scorer_agreement",
    "stratified_three_way_split",
    "sequence_packing_efficiency",
    "knn_shapley_valuation",
    "fairness_gate_audit",
    "coreset_kcenter_selection",
    "fellegi_sunter_em",
    # round-8 tier (shard_rebalance_movement and bpe_roundtrip_fidelity
    # are 1-or-2-row NULL-stat reporters on empty — covered by
    # test_round8_null_stat_reports_on_empty instead)
    "decontam_ngram13_eval",
    "streaming_join_then_window",
    "slo_burn_rate_windows",
    "range_partition_planner",
    # round-8b (voptimal's 6-row zero curve and krippendorff's 1-row
    # NULL-stat summary are covered by
    # test_round8_null_stat_reports_on_empty)
    "unimax_allocation",
    "partition_fingerprint_diff",
    "nb_overdispersion_daily",
    # round-8c
    "trigram_similarity_join",
    "soundex_token_blocks",
    "youden_threshold_pick",
    # round-9 (the streaming pair is empty-safe by construction: the
    # carryover guard compares exact batch counts, 0 == 0 on empty, and
    # the statestore read of a no-input checkpoint returns 0 rows)
    "longest_dup_substring",
    "longest_dup_span_pairs",
    "pii_redaction_transform",
    "ivm_join_delta_merge",
    "matryoshka_prefix_recall",
    "bitext_margin_mining",
    "neardup_bfs_hops",
    "containment_root_resolution",
    "ldp_randomized_response",
    "horvitz_thompson_total",
    # setjoin_prefix_filter is group-keyed (vanishes on empty);
    # ams_f2_join_size is an always-1-row global aggregate — excluded
    # per the datasheet precedent above
    "setjoin_prefix_filter",
    "dedup_index_compaction",
    "embedding_source_psi",
    "shard_order_probe_inputs",
    "shard_order_probe_pairs",
    "streaming_restart_carryover",
    "streaming_state_introspection",
    # round-10 (the nprobe curve and layout eval are fixed-grain
    # reporters on empty — NULL/NaN stat rows, excluded per the
    # datasheet precedent)
    "dedup_membership_probe",
    "repeated_ngram_loop_gate",
    "dp_budget_ledger",
    # round-10b (ams_innerprod and the bloom curve are 1-/4-row
    # reporters on empty — excluded per the datasheet precedent)
    "minhash_merge_maintenance",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for name, schema in TABLE_SCHEMAS.items():
        spark.createDataFrame([], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_survives_empty_tables(spark, empty_dir, name):
    df = registry.queries()[name](spark, empty_dir)
    assert df.count() == 0


def test_rm3_falls_back_to_query_terms_on_empty(spark, empty_dir):
    """With no corpus there is no pseudo-relevant set, so the RM3 mix
    must degrade to exactly the original query terms at the uniform
    query-model weight — not crash and not return nothing."""
    rows = registry.queries()["rm3_query_expansion"](
        spark, empty_dir
    ).collect()
    assert len(rows) > 0
    assert all(r.in_query for r in rows)
    for r in rows:
        assert r.rm3_weight > 0.0


def test_dim_backed_pipeline_keeps_dim_rows_on_empty_facts(spark, empty_dir):
    """world_map_job2_deviation left-joins prices onto the static geo dim:
    with no facts it must still return one row per country (NULL-priced,
    zero-filled steam_value) — the reference renders exactly that 'no
    data' base layer."""
    df = registry.queries()["world_map_job2_deviation"](spark, empty_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.usd_price is None for r in rows)
    assert all(r.steam_value == 0.0 for r in rows)


def test_gdpr_cascade_reports_four_zero_rows_on_empty(spark, empty_dir):
    """An erasure audit over empty tables is still a 4-table report —
    every count zero, rows_after == rows_before (global aggregates
    return a row, not nothing)."""
    rows = registry.queries()["gdpr_delete_cascade"](spark, empty_dir).collect()
    assert len(rows) == 4
    assert all(r.rows_before == 0 and r.rows_purged == 0 and r.rows_after == 0
               for r in rows)


def test_gdpr_oracle_reports_four_zero_rows_on_empty(empty_dir):
    """The oracle text gives the same four all-zero rows in DuckDB: `sum`
    over no rows is NULL, so the customer row's purge count coalesces to
    0 (one text now runs on both engines)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_dir}/{t}.parquet/*.parquet')"
        )
    rows = con.execute(registry.oracle_sql()["gdpr_delete_cascade"]).fetchall()
    con.close()
    assert sorted(rows) == [
        (t, 0, 0, 0) for t in ("customer", "events", "lineitem", "orders")
    ]


def test_datasheet_reports_empty_corpus_as_one_zero_row(spark, empty_dir):
    """A datasheet over an empty landing is itself a valid report: one row
    with zero volume (global aggregates return a row, not nothing) —
    matching the oracle's no-GROUP-BY semantics."""
    rows = registry.queries()["corpus_datasheet"](spark, empty_dir).collect()
    assert len(rows) == 1
    assert rows[0].n_docs == 0 and rows[0].n_tokens in (0, None)


def test_round7_null_stat_reports_on_empty(spark, empty_dir):
    """The round-7 1-row reporters follow the group-sequential/datasheet
    precedent on an empty corpus: exactly one summary row, counts 0,
    stats NULL — never an exception, never NaN."""
    r = registry.queries()["fleiss_kappa_rules"](spark, empty_dir).collect()
    assert len(r) == 1 and r[0].n_docs == 0 and r[0].fleiss_kappa is None
    r = registry.queries()["theil_sen_daily_trend"](
        spark, empty_dir
    ).collect()
    assert len(r) == 1 and r[0].n_days == 0 and r[0].slope_med is None
    r = registry.queries()["dedup_keeper_policy_eval"](
        spark, empty_dir
    ).collect()
    assert len(r) == 1 and r[0].n_multi_groups == 0
    assert r[0].avg_quality_keep_best is None
    r = registry.queries()["knn_shapley_truncation_error"](
        spark, empty_dir
    ).collect()
    assert len(r) == 1 and r[0].n_train == 0
    assert r[0].max_abs_delta is None
    rows = registry.queries()["quantile_sketch_error_eval"](
        spark, empty_dir
    ).collect()
    assert len(rows) == 5
    assert all(r.n == 0 and r.rank_dev_ok is True for r in rows)


def test_round8_null_stat_reports_on_empty(spark, empty_dir):
    """The round-8 fixed-shape reporters on an empty corpus: the
    rebalance audit emits its 2 policy rows with 0 docs and NULL
    fractions; the BPE round trip emits one summary row with 0 words
    and NULL invariant — matching each oracle's no-GROUP-BY semantics."""
    rows = {
        r.policy: r
        for r in registry.queries()["shard_rebalance_movement"](
            spark, empty_dir
        ).collect()
    }
    assert set(rows) == {"mod", "rendezvous"}
    for r in rows.values():
        assert r.n_docs == 0 and r.n_moved is None and r.moved_frac is None
    r = registry.queries()["bpe_roundtrip_fidelity"](
        spark, empty_dir
    ).collect()
    assert len(r) == 1 and r[0].n_words == 0
    assert r[0].roundtrip_exact is None and r[0].n_distinct_symbols == 0
    # round-8b fixed-shape reporters
    rows = registry.queries()["voptimal_histogram"](
        spark, empty_dir
    ).collect()
    assert sorted(r.n_buckets for r in rows) == [1, 2, 3, 4, 5, 6]
    assert all(r.total_sse == 0.0 for r in rows)
    r = registry.queries()["krippendorff_alpha_rules"](
        spark, empty_dir
    ).collect()
    assert len(r) == 1 and r[0].n_rating_rows == 0 and r[0].alpha is None


def test_fd_audit_reports_five_zero_rows_on_empty(spark, empty_dir):
    """FD profiling over empty tables is still a 5-candidate report —
    zero groups, zero violations, NULL worst fan-out (max over nothing
    is NULL in both engines)."""
    rows = registry.queries()["fd_violation_audit"](spark, empty_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_groups == 0
        assert r.n_violating in (0, None)
        assert r.max_distinct_rhs is None
