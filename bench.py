"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is forced end-to-end with a noop-format write (full compute, no
sink I/O). Timings include plan+execution, not session startup.

Scaling guard: the same queries also run at $SPARK_GRAFT_BASE_SF_DIR
(default sf0.01) and the wall-time ratio is compared against the data
ratio — a query whose time grows much faster than its input is
superlinear and would not survive a 100× scale-up (this is the check that
catches band-saturation / accidental O(N²) regressions automatically).
Set SPARK_GRAFT_BASE_SF_DIR="" to skip the second pass.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "pipeline_w1_flat_medcat",
    "pipeline_gate_flat",
    "b1_windowed_pipeline",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "window_topk_per_customer",
    "events_sessionization",
    "dedup_exact_groups",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_fingerprint",
    "simhash_near_dup_pairs",
    "explode_skew_salted",
    "embedding_cosine_topk",
    "ann_bucketed_topk",
    "ann_ivf_topk",
    "asof_join_clicks_purchases",
    "range_join_event_pairs",
    "window_tumbling_events",
    "text_quality_scores",
    # r3: heaviest representatives of the post-r1 families, so regressions
    # in BM25/TF-IDF, decontamination, k-means, clustering, streaming,
    # Gopher flags, and media decode are visible round-over-round
    "tfidf_top_terms",
    "bm25_match_ranking",
    "decontamination_ngram_overlap",
    "kmeans_lloyd_step",
    "dedup_duplicate_clusters",
    "streaming_tumbling_agg",
    "text_gopher_quality_flags",
    "media_decode_dims",
    "window_sliding_events",
    # r4: the curation family (newest, previously invisible to the bench)
    # and the full k-means convergence loop
    "corpus_curation_pipeline",
    "corpus_shuffle_order",
    "weighted_downsample",
    "kmeans_fit_converged",
    # r4 additions: streaming joins, layout/integrity/sketch certification,
    # incremental dedup and funnel analytics
    "streaming_stream_join",
    "layout_zorder_cells",
    "integrity_table_checksum",
    "approx_sketch_certified",
    "dedup_incremental_new_vs_corpus",
    "funnel_conversion_steps",
    # r5 additions: the streaming twins of funnel + incremental dedup,
    # the checksum-certified compaction job, and int8 quantization cert
    "streaming_funnel_conversion",
    "streaming_incremental_dedup",
    "layout_compaction_checksum",
    "embedding_quantized_cosine_cert",
    # r5 additions: the analytics families' heaviest representatives —
    # prefix-filtered ssjoin (shingle explode + candidate join), semantic
    # dedup (N·k assignment + within-cell pairs), graph census/PageRank,
    # and the two time-series window pipelines
    "ssjoin_jaccard_prefix",
    "semantic_dedup_pairs",
    "graph_triangle_count",
    "graph_pagerank_2iter",
    "timeseries_gapfill_locf",
    "timeseries_zscore_anomalies",
    "er_entity_clusters",
    "timeseries_ewma",
    # r5 surface additions: native recursive CTE + arrow Python UDTF +
    # multi-format round-trip certification
    "recursive_cte_blast_radius",
    "udtf_sentence_split",
    "format_roundtrip_checksum",
    # r5 warehouse/change-data family + hybrid retrieval + frame sampling
    "scd2_dimension_build",
    "cdc_apply_changelog",
    "snapshot_table_diff",
    "market_basket_pairs",
    "hybrid_rrf_retrieval",
    "media_frame_sample",
    # r6 queue: LM-perplexity quality signal, DSIR importance weights,
    # chi-square independence, mergeable-HLL sketch rollup
    "lm_perplexity_scores",
    "dsir_importance_weights",
    "stats_chi_square_independence",
    "sketch_mergeable_rollup",
    "cohort_retention_matrix",
    "events_anomaly_mad",
    "vocab_zipf_slope",
    "bpe_pair_merges",
    "streaming_cdc_apply",
    # r6 queue: evaluation-metrics family (eval_lsh_precision_recall is
    # deliberately NOT a headline row: it composes ssjoin_jaccard_prefix +
    # minhash_lsh_pairs, both already benchmarked — a regression in it is
    # visible through its components without double-paying the heavy
    # exact-join twice per bench pass)
    "eval_langid_confusion",
    "eval_ann_ndcg",
    "dedup_span_islands",
    # r6: packed-shard export manifest (training-data last mile), its
    # mergeable streaming twin, and incremental view maintenance
    "corpus_shard_manifest",
    "streaming_shard_manifest",
    "ivm_agg_maintenance",
    "shard_manifest_delta",
    "layout_bucketed_join_cert",
    "embedding_pq_codes",
    "quantile_disc_certified",
    "privacy_k_anonymity",
    "dedup_duplicate_lines",
    # r6 label-aware family: hard-negative mining + kNN label probe +
    # the quantization-cost probe (compression priced in accuracy)
    "ann_hard_negatives",
    "eval_knn_label_accuracy",
    "eval_knn_quantized_delta",
    # r6: asymmetric containment near-dups + robust-metric winsorization
    "ngram_overlap_pairs",
    "events_winsorized_stats",
    # r7: image phash near-dup banding (synth+decode+band end to end),
    # dynamic-partition-pruning cert, BPE encode + real-token packing
    # (the histogram is NOT a headline row: it re-runs the same encode
    # fold as bpe_encode_tokens plus a cheap top-30 — visible through its
    # component), and temperature mixture resampling
    "media_phash_near_dup_pairs",
    "layout_dpp_cert",
    "bpe_encode_tokens",
    "bpe_sequence_packing",
    "mixture_temperature_sample",
    # r7: classifier inference, KN bigram LM, calibration audit,
    # tokenizer fertility (packing_efficiency is NOT a headline row: it
    # re-runs bpe_sequence_packing's window plus two cheap aggregates —
    # visible through its component)
    "quality_classifier_scores",
    "lm_kneser_ney_bigram",
    "eval_calibration_bins",
    "tokenizer_fertility_by_lang",
    # r7: positional phrase search, arena-style BT fit, quality-aware
    # dedup survivors, sort-for-compression layout cert
    "search_phrase_positions",
    "stats_bradley_terry",
    "dedup_quality_survivors",
    "layout_sort_compression_cert",
    # r7: deterministic LPA communities, Markov transition matrix,
    # l-diversity privacy gate, ANN recall@k tuning curve
    "graph_label_propagation",
    "events_markov_transitions",
    "privacy_l_diversity",
    "eval_recall_at_k_curve",
    # r7: blocking-scheme audit + the streaming classifier gate
    "eval_er_blocking_quality",
    "streaming_quality_gate",
    # r7: audio content decode (PCM energy/ZCR) + image near-dup clusters
    "media_audio_frame_energy",
    "media_phash_clusters",
    # r7: Misra-Gries heavy hitters (the custom mapInPandas sketch)
    "sketch_heavy_hitters_certified",
    # r7: MRR retrieval summary + two-proportion A/B z-test
    "eval_ann_mrr",
    "stats_ab_test_proportions",
    # r7: streaming MG twin, 2-step BPE merge learning, grouped OLS trend
    "streaming_heavy_hitters",
    "bpe_learn_two_merges",
    "timeseries_linear_trend",
    # r7: long-context packing manifest, schema-evolution cert, datasheet
    "context_packing_manifest",
    "format_schema_evolution_cert",
    "corpus_datasheet_report",
    # r7: funnel timing percentiles + MinHash estimator-resolution eval
    "funnel_time_to_convert",
    "eval_minhash_estimator",
    # r7: the composed IVF-ADC retrieval path (coarse cell + PQ lookup)
    "ann_ivf_adc_topk",
    # r7: RFM customer-value segmentation
    "events_rfm_segmentation",
    # r7: per-gate curation attrition funnel
    "curation_gate_attrition",
    # r7: leakage-safe point-in-time dimension lookup
    "scd2_point_in_time_lookup",
    # r7: rank-statistics family (shared bounded-domain CDF machinery;
    # KS and MWU read the same source but exercise different reductions)
    "stats_ks_test",
    "stats_mann_whitney",
    "eval_auc_roc",
    "lm_good_turing_counts",
    # r7: time-series ACF + Theil-Sen robust trend
    "timeseries_acf",
    "stats_theil_sen_slope",
    # r7: novelty scoring, domain caps, t-closeness
    "corpus_ngram_novelty",
    "curation_domain_caps",
    "privacy_t_closeness",
    # r7: sparse lexical cosine + gated-WAV silence islands (distinct
    # synth/decode from media_audio_frame_energy: 1024-sample gated PCM)
    # + the three-direction as-of
    "tf_cosine_doc_pairs",
    "media_audio_silence_segments",
    "asof_join_modes",
    # r7 deferred batch (r8 gate): KM survival, CUPED, Spearman,
    # mergeable-MinHash cert, PMI collocations
    "survival_kaplan_meier",
    "stats_cuped_adjustment",
    "stats_spearman_corr",
    "sketch_minhash_mergeable",
    "collocation_pmi_pairs",
    # r7 deferred batch 2 (r8 gate): CUSUM changepoint, weekly seasonal
    # indexes, LSH link prediction, Benford audit, OOV-rate curve
    "events_changepoint_cusum",
    "timeseries_seasonal_decompose",
    "graph_common_neighbor_scores",
    "stats_benford_first_digit",
    "lm_oov_rate_by_vocab_size",
    # r7 deferred batch 3 (r8 gate): forecast backtest, Kendall tau-b,
    # FK readability
    "forecast_backtest_mae",
    "stats_kendall_tau",
    "text_readability_fk",
    # r7 deferred batch 4 (r8 gate): Pareto/ABC revenue classes, runs test
    "orders_pareto_abc",
    "stats_runs_test",
    # r8: experiment-analysis quartet — Welch t, the ×100-replicate
    # Poisson bootstrap (the round's heaviest new row by design), Gini
    # concentration, and the diff-in-diff A/A harness
    "stats_welch_ttest",
    "stats_bootstrap_poisson_ci",
    "stats_gini_lorenz",
    "stats_diff_in_diff",
    # r8: event-journey family (attribution + path mining share the
    # per-user path window but exercise different reductions) and the
    # sweep-line concurrency profile; k-core peels the LSH edge graph
    # (edge construction already benchmarked via graph_triangle_count,
    # the 4-round peel is the new cost)
    "graph_k_core_peel",
    "events_attribution_credit",
    "events_top_paths",
    "events_concurrency_profile",
    # r8: Deequ-style constraint suite, Matryoshka truncation cert,
    # exact weighted quantiles, IPW A/A estimator, Fellegi-Sunter
    # linkage weights, gaps-and-islands activity streaks
    "quality_constraint_suite",
    "eval_matryoshka_truncation",
    "stats_weighted_median",
    "stats_ipw_estimate",
    "er_fellegi_sunter_weights",
    "events_activity_streaks",
    # r8: Davies-Bouldin cluster quality, experiment sizing (MDE),
    # Poisson overdispersion check, key-sampled join-cardinality cert,
    # RAKE keyword extraction, O'Brien-Fleming interim monitoring
    "eval_cluster_davies_bouldin",
    "stats_power_mde",
    "stats_overdispersion",
    "eval_join_cardinality_est",
    "text_rake_keywords",
    "stats_group_sequential",
    # r8: streaming twin of the constraint suite (monoid partial counters
    # merged across micro-batches)
    "streaming_constraint_suite",
    # r8: embedding isotropy diagnostic, Heaps-law vocab growth,
    # header-vs-lines value reconciliation
    "eval_embedding_isotropy",
    "vocab_heaps_law",
    "quality_value_reconciliation",
    # r8: Mann-Kendall trend significance + STL seasonal strength
    "stats_mann_kendall",
    "timeseries_seasonal_strength",
    # r8: count-min sketch certification (completes the mergeable-sketch
    # triad) + code-vs-prose routing heuristic
    "sketch_count_min_certified",
    "text_code_detect",
    # r8: streaming CMS merge proof, sample-ratio-mismatch monitor,
    # cohort LTV matrix, domain epoch plan
    "streaming_count_min",
    "stats_sequential_srm",
    "events_cohort_ltv",
    "curation_epoch_plan",
    # r8: per-domain unigram KL (domain-shift scalar) + LSH-graph
    # degree assortativity
    "lm_domain_kl_divergence",
    "graph_degree_assortativity",
    # r8: end-to-end redaction certification + inter-arrival CV profile
    "privacy_redaction_cert",
    "events_interarrival_stats",
    # r8: click->purchase lead-lag cross-correlation
    "timeseries_cross_correlation",
    # r9: classical-inference completion (ANOVA family, robust location,
    # effect sizes, permutation/FDR), uncertainty + drift + DP releases,
    # two more mergeable-sketch certs, LSH-graph local structure,
    # leakage audit, char entropy, vocab Jaccard, subword fertility
    "sketch_bloom_membership_cert",
    "graph_local_clustering",
    "stats_hodges_lehmann",
    "privacy_dp_noisy_counts_cert",
    "eval_split_leakage_audit",
    "text_char_entropy",
    "stats_anova_oneway",
    "stats_permutation_test",
    "stats_psi_drift",
    "eval_conformal_coverage",
    "eval_label_centroid_sim",
    "lm_vocab_jaccard_sources",
    "stats_tukey_hsd",
    "stats_brown_forsythe",
    "stats_effect_sizes",
    "sketch_hll_intersection_cert",
    "streaming_psi_drift",
    "eval_pinball_loss",
    "stats_cramers_v",
    "stats_negative_binomial_fit",
    "stats_bh_fdr",
    "graph_two_hop_reach",
    "privacy_dp_quantile_release",
    "lm_subword_fertility",
    "eval_cohens_kappa",
    "stats_wilcoxon_signed_rank",
    "stats_friedman_test",
    "text_token_burstiness",
    "stats_kruskal_wallis",
    "stats_ljung_box",
    "stats_mood_median_test",
    "eval_mcc_langid",
    # r10 additions
    "dedup_substring_exact",
    "dedup_substring_survivors",
    "stats_page_hinkley",
    "stats_dickey_fuller",
    "stats_durbin_watson",
    "stats_bartlett_test",
    "stats_cochran_q",
    "stats_jonckheere_terpstra",
    "eval_mcnemar_models",
    "eval_dup_capture_recapture",
    "curation_mixture_waterfill",
    "lm_self_bleu_proxy",
    "dedup_lsh_banding_sweep",
    "media_shot_boundaries",
    "streaming_page_hinkley",
    "stats_grubbs_outlier",
    # r11 head-start tier (certifies next round; benchmarked from day one)
    "dedup_substring_cross_split",
    "stats_cochran_armitage",
    "events_markov_entropy_rate",
    "text_mattr_diversity",
    # round-11 session-2 additions
    "survival_nelson_aalen",
    "survival_log_rank",
    "eval_ece_mce",
    "eval_brier_decomposition",
    "eval_lift_gains_curve",
    "stats_jarque_bera",
    "text_yule_k",
    "text_hapax_legomena",
    "lm_bigram_cond_entropy",
    "graph_adamic_adar",
    "split_group_holdout",
    "stats_hurst_rs",
    "stats_ols_two_factor",
    "stats_granger_lag1",
    "stats_cronbach_alpha",
    "sketch_ams_f2_cert",
    "privacy_randomized_response_cert",
    "events_peak_detection",
    "stats_pettitt_test",
    "stats_variance_ratio_test",
    "eval_weighted_kappa",
    "dedup_soft_weights",
    "events_entropy_trend",
    "streaming_ams_f2",
    "timeseries_holt_forecast",
    "timeseries_pacf",
    "media_audio_clipping",
    "corpus_cross_source_overlap",
    "ann_nprobe_sweep",
    "stats_cramer_von_mises",
    "stats_sign_test",
    "lm_ngram_coverage_curve",
    "timeseries_holt_winters",
    "stats_esd_outliers",
    "stats_page_trend_test",
    "stats_wilson_ci",
    "events_dau_wau_stickiness",
    "stats_poisson_rate_ratio",
    "events_bot_score",
    "orders_backlog_aging",
    "eval_ann_map",
    "lm_js_divergence_sources",
    "stats_quade_test",
    "stats_exponentiality_test",
    "media_image_entropy",
    "lm_token_rank_typicality",
    # round-12 head start
    "graph_modularity_score",
    "events_return_intervals",
    "eval_sliced_calibration",
    "stats_cusum_variance",
    "stats_seasonal_mann_kendall",
    "events_hourly_seasonality",
    # round-11 session-3 additions (r12 gate tier)
    "dedup_substring_bpe_k50",
    "stats_g_test",
    "stats_mantel_haenszel",
    "stats_chow_test",
    "eval_fleiss_kappa",
    "eval_rank_biased_overlap",
    "eval_forecast_mase",
    "media_audio_snr",
    "graph_jaccard_link_scores",
    "text_sentence_stats",
    "timeseries_theta_forecast",
    "graph_hits_2iter",
    "split_temporal_holdout",
    "corpus_dup_quality_association",
    "stats_eb_shrinkage",
    "stats_rayleigh_hour_uniformity",
    "eval_auc_pr",
    "stats_powerlaw_tail_fit",
    # round-12 session additions (r13 gate tier)
    "dedup_substring_bpe_survivors",
    "dedup_minhash_containment",
    "dedup_cluster_size_histogram",
    "sample_weighted_reservoir",
    "chunk_sentence_packed",
    "stats_fisher_exact",
    "stats_anderson_darling",
    "stats_tost_equivalence",
    "stats_partial_correlation",
    "stats_dunn_posthoc",
    "stats_cooks_distance",
    "stats_breusch_pagan",
    "stats_ansari_bradley",
    "eval_krippendorff_alpha",
    "eval_reliability_regression",
    "eval_spiegelhalter_z",
    "eval_forecast_theil_u",
    "eval_label_noise_pairs",
    "timeseries_spectral_peak",
    "timeseries_drawdown_stats",
    "events_path_trigrams",
    "events_burstiness_memory",
    "lm_unigram_surprisal_quality",
    "text_ocr_garbage_score",
    "split_kfold_assign",
    "curation_skyline_quality",
]


def compute_superlinear_flags(
    timings: dict[str, float],
    base: dict[str, float],
    data_ratio: float,
    cal_main: float | None = None,
    cal_base: float | None = None,
    remeasure=None,
) -> list[str]:
    """Contention-robust superlinear flagger (r9 verdict item 2).

    The naive ``timings[q]/base[q] > 1.5 * data_ratio`` check compares two
    suite passes that can sit under different machine load: the driver's r9
    sweep flagged ``ssjoin_jaccard_prefix`` at 16.9x while the isolated
    truth was 2.7x — its whole pass was uniformly ~26% slower (calibration
    0.514 vs 0.419). Two defenses, both pinned by pytest:

    1. **Calibration normalization** — each pass is preceded by
       ``calibrate()`` (a fixed codegen'd no-I/O job); the time ratio is
       divided by ``cal_main/cal_base`` so a uniformly-slowed pass cancels
       out instead of flagging every shuffle-heavy query.
    2. **Isolation re-measure** — a query that still trips the normalized
       threshold is re-timed in isolation (``remeasure(q) -> (t_main,
       t_base)``, fresh median-of-3 at both scale factors, machine
       otherwise between-queries idle) and only flagged if the isolated
       ratio ALSO exceeds the threshold. A transient load spike during one
       query's original timing window cannot produce a flag on its own.

    Normalization is ONE-SIDED: it can only ADD candidates, never remove
    them. Measured r10 artifacts show the main-pass calibration reads up
    to ~2x slower than the base-pass one even on an idle machine (early-
    session JVM warmth the discarded warm-up doesn't fully cure), so
    dividing by the calibration ratio alone would silently HIDE a real
    quadratic behind apparent contention. A query whose raw OR normalized
    ratio trips the threshold becomes a candidate; the isolation
    re-measure is the arbiter. Without a ``remeasure`` hook, a candidate
    is flagged only when BOTH ratios trip (high confidence, no arbiter).

    Sub-second timings are planner-overhead noise, not scaling signal, and
    are never flagged.
    """
    cal_ratio = 1.0
    if cal_main and cal_base and cal_base > 0:
        cal_ratio = cal_main / cal_base
    threshold = 1.5 * data_ratio
    flagged: list[str] = []
    for q, t in timings.items():
        b = base.get(q)
        if not b or b <= 0 or t < 0.5:
            continue
        raw_over = (t / b) > threshold
        norm_over = ((t / cal_ratio) / b) > threshold
        if not (raw_over or norm_over):
            continue
        if remeasure is not None:
            t2, b2 = remeasure(q)
            if not b2 or b2 <= 0 or t2 < 0.5 or (t2 / b2) <= threshold:
                continue
        elif not (raw_over and norm_over):
            continue
        flagged.append(q)
    return flagged


def per_query_chunks(
    timings: dict[str, float], max_line_chars: int = 240
) -> list[str]:
    """Serialize the per-query map as SHORT self-contained JSON lines.

    The driver's stdout capture keeps only the last ~2000 characters
    (BENCH_r03-05 show the big result line's head truncated away and
    ``parsed: null``), so the full 335-entry ``queries`` map on the first
    output line physically cannot reach its parser, and r12's PERF shipped
    an empty ``per_query``/null geomean (r12 verdict item 2). Re-emit the
    map as chunk lines of at most ``max_line_chars`` each, sorted so the
    SLOWEST queries land in the LAST chunks: whatever suffix of the output
    survives a tail-keeping capture is a run of complete, parseable lines
    carrying the heaviest per-query rows — the ones regression analysis
    needs most. Every line repeats the metric name and its part index, so
    a consumer can tell a partial capture from a full one. An entry too
    long to fit a line alone raises ``ValueError`` rather than emit an
    over-cap line.
    """
    items = sorted(timings.items(), key=lambda kv: (kv[1], kv[0]))
    groups: list[dict[str, float]] = []
    cur: dict[str, float] = {}
    # worst-case fixed overhead of one line's envelope (3-digit part ids)
    envelope = len(
        json.dumps({"metric": "per_query", "part": 999, "parts": 999, "queries": {}})
    )
    used = envelope
    for name, sec in items:
        entry = len(json.dumps({name: sec})) + 2  # ", " separator slack
        if envelope + entry > max_line_chars:
            raise ValueError(
                f"per-query entry {name!r} cannot fit a {max_line_chars}-char line"
            )
        if cur and used + entry > max_line_chars:
            groups.append(cur)
            cur, used = {}, envelope
        cur[name] = sec
        used += entry
    if cur:
        groups.append(cur)
    return [
        json.dumps(
            {"metric": "per_query", "part": i + 1, "parts": len(groups), "queries": g}
        )
        for i, g in enumerate(groups)
    ]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Sample the machine-state provenance BEFORE the Spark session exists:
    # the JVM startup + 32-core warm-up job spike the 1-minute load
    # average, so sampling after them (as r12's first artifact did —
    # load 3.01 on a machine that read 0.42 seconds earlier) stamps a
    # genuinely idle box as contended. What 'isolated' must answer is
    # whether anything ELSE was running when the suite began.
    load_before = (
        round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
    )
    from annotations_ingester_spark.plans.queries import REGISTRY
    from annotations_ingester_spark.session import get_spark

    spark = get_spark("bench")
    # JVM/codegen warm-up so the first timed query isn't paying startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Machine-speed calibration: a FIXED query-shaped job (codegen'd agg
    # over a generated range — no I/O, no query-plan changes round over
    # round). Round-4 experiment showed the r3 "session drift" was
    # environment variance, not GC pressure (a fresh session timed the
    # same canaries SLOWER than the warm 34-query session); dividing a
    # round-over-round delta by the calibration ratio separates machine
    # noise from genuine plan regressions.
    def calibrate() -> float:
        # One DISCARDED pass first: the r10 artifact showed a median-of-3
        # taken at session start reads ~3x slower than the same job after
        # the suite has warmed the JVM (JIT/codegen, not machine load) —
        # an asymmetry between the two passes' calibrations inflates the
        # normalization divisor and can MASK a real superlinear. Warming
        # the calibration shape itself before timing makes the two
        # calibrations comparable.
        def one() -> float:
            t0 = time.perf_counter()
            spark.range(50_000_000).selectExpr(
                "sum(id * 2)", "avg(id)", "count(distinct id % 1000)"
            ).collect()
            return time.perf_counter() - t0

        one()  # discarded warm-up
        # MIN-of-5, not median-of-3 (r11 verdict item 2): the committed
        # r11 artifact shipped calibration_sec=3.355 on a machine whose
        # true calibration is ~0.7 s — a GC/JIT hiccup polluted 2 of 3
        # samples and the median passed it through, breaking exactly the
        # cross-round normalization the number exists for. The
        # calibration job is fixed-shape with no I/O, so its true value
        # is its FASTEST observed run; min-of-5 rejects any transient
        # stall instead of averaging it in.
        return round(min(one() for _ in range(5)), 3)

    def time_query(name: str, at_dir: str) -> float:
        # One UNTIMED warm-up execution (fills codegen/broadcast/
        # file-listing caches), then median-of-3 timed runs with the SQL
        # cache cleared and a GC hint first so one query's garbage doesn't
        # tax the next.
        spec = REGISTRY[name]
        spark.catalog.clearCache()
        # r12 verdict item 5: localCheckpoint blocks from EARLIER queries
        # are checkpoint RDDs, not CacheManager entries — clearCache never
        # frees them, and they die only when driver GC collects the py4j
        # refs. Across a 335-query session that accumulation is the prime
        # suspect for the recorded 2.9-26 s session flappers (guide §5:
        # storage pressure taxes later queries). Free them
        # deterministically before each query: drop Python-side refs,
        # then unpersist every leftover persistent RDD — nothing
        # legitimate outlives its builder (every timed rep recomputes
        # from the parquet inputs, so this cannot cache results across
        # reps either; it only RELEASES memory).
        import gc

        gc.collect()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        spark.sparkContext._jvm.System.gc()
        spec.spark(spark, at_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.spark(spark, at_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        med = sorted(runs)[1]
        # Sub-5 s queries flap 2-4x between committed artifacts on
        # median-of-3 alone (r11 verdict item 3: events_top_paths,
        # layout_compaction_checksum, timeseries_ewma...) — one stray GC
        # pause is a large fraction of a short run. Two extra samples
        # pin them; queries over ~5 s amortize noise already and keep
        # the round-close suite affordable.
        if med < 5.0:
            for _ in range(2):
                t0 = time.perf_counter()
                spec.spark(spark, at_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            med = sorted(runs)[2]  # median-of-5
        return round(med, 3)

    def run_suite(at_dir: str) -> dict[str, float]:
        # Isolation discipline (r3: a ~1.2x uniform drift from shared-JVM
        # pressure masked real regressions) lives in time_query.
        return {name: time_query(name, at_dir) for name in HEADLINE}

    # Calibrate IMMEDIATELY before each suite pass (r9 verdict item 2):
    # the pass-local machine speed is what normalizes that pass's timings.
    cal_main = calibrate()
    timings = run_suite(sf_dir)

    def sf_of(d: str) -> float | None:
        tail = d.rstrip("/").split("sf")[-1]
        try:
            return float(tail)
        except ValueError:
            return None

    sf = sf_of(sf_dir)
    from annotations_ingester_spark.operators import similarity as _sim

    # Truncation-proofing (BENCH_r03/r04 were captured with the tail cut
    # off, "parsed": null): every headline scalar — total, sf, calibration,
    # the superlinear flag list — is emitted FIRST in the object, before
    # the large per-query dict and scaling detail, so even a truncated
    # capture's first ~200 bytes carry the numbers that matter.
    # Machine-state provenance (r10 verdict item 3): the committed
    # isolated run and the driver's contended re-run share a filename, so
    # every judge has burned an adjudication cycle separating machine
    # state from plan quality. Stamp the run with the 1-minute load
    # average sampled BEFORE the suite and a derived isolated flag
    # (load < 2 on a 32-vCPU box means nothing else was competing), plus
    # who ran it ($SPARK_GRAFT_BENCH_RUNNER, "builder" locally; absent →
    # "inherited" for driver/judge re-runs).
    result = {
        "metric": "headline_query_wall_time_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        # the convergence loop's round count (set by the kmeans_fit_converged
        # runs above) — certifies the fit stopped on tolerance, not exhaustion
        "kmeans_fit_iterations": getattr(_sim, "LAST_FIT_ITERATIONS", None),
        "calibration_sec": cal_main,
        "load_avg_1m_before": load_before,
        # "isolated" means <6.25% of the machine's cores were busy when
        # the suite started (2.0 on the 32-vCPU dev box). A hard-coded
        # 2.0 would stamp a genuinely contended 2-core machine (load
        # 1.8 = 90% busy) as isolated; scaling by cpu_count keeps the
        # provenance meaningful wherever a judge re-runs, and the cpu
        # count itself is recorded so the threshold is auditable.
        "cpu_count": os.cpu_count(),
        "isolated": (
            load_before is not None
            and load_before < 0.0625 * (os.cpu_count() or 1)
        ),
        "runner": os.environ.get("SPARK_GRAFT_BENCH_RUNNER", "inherited"),
    }

    base_dir = os.environ.get("SPARK_GRAFT_BASE_SF_DIR", "/root/testdata/sf0.01")
    base_sf = sf_of(base_dir) if base_dir else None
    scaling = None
    if base_dir and base_dir != sf_dir and os.path.isdir(base_dir) and sf and base_sf:
        cal_base = calibrate()
        base = run_suite(base_dir)
        data_ratio = round(sf / base_sf, 2)
        ratios = {
            q: round(timings[q] / base[q], 2) if base[q] > 0 else None for q in HEADLINE
        }
        # Contention-robust flagging: calibration-normalized ratios plus an
        # in-isolation re-measure of anything that still trips (see
        # compute_superlinear_flags). The raw ratios stay in the artifact
        # for round-over-round continuity.
        flagged = compute_superlinear_flags(
            timings,
            base,
            data_ratio,
            cal_main=cal_main,
            cal_base=cal_base,
            remeasure=lambda q: (time_query(q, sf_dir), time_query(q, base_dir)),
        )
        result["flagged_superlinear"] = flagged
        scaling = {
            "base_sf": base_sf,
            "data_ratio": data_ratio,
            "calibration_main_sec": cal_main,
            "calibration_base_sec": cal_base,
            "time_ratios": ratios,
        }

    result["queries"] = timings
    if scaling is not None:
        result["scaling"] = scaling

    print(json.dumps(result))
    # Driver-proof per-query re-emission (r12 verdict item 2): short chunk
    # lines, slowest queries last — see per_query_chunks. Placed BEFORE the
    # headline summary so the FINAL line stays the small totals object a
    # last-line-only parser expects; a tail-keeping ~2 KB capture then
    # holds the summary plus the heaviest ~40 queries' rows as complete
    # parseable lines instead of one truncated 10 KB fragment.
    for line in per_query_chunks(timings):
        print(line)
    # Persist the COMPLETE per-query map as a committed artifact
    # (BENCH_FULL_r{N}.json). BENCH_r{N}.json keeps only the captured
    # stdout tail, so absolute per-query times survive a round only if a
    # judge reruns the bench; this file makes round-over-round per-query
    # regression diffs possible from repo artifacts alone (r8 verdict
    # item 3). Round number: $SPARK_GRAFT_ROUND if set, else one past the
    # highest driver-written BENCH_r*.json. Best-effort — the bench's
    # stdout contract must survive a read-only checkout.
    try:
        repo = Path(__file__).resolve().parent
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            import re

            seen = [
                int(m.group(1))
                for p in repo.glob("BENCH_r*.json")
                if (m := re.match(r"BENCH_r(\d+)\.json$", p.name))
            ]
            rnd = str(max(seen, default=0) + 1)
        (repo / f"BENCH_FULL_r{int(rnd):02d}.json").write_text(
            json.dumps(result, indent=1, sort_keys=False) + "\n"
        )
    except (OSError, ValueError):
        # OSError: read-only checkout; ValueError: non-numeric
        # SPARK_GRAFT_ROUND — the stdout contract must survive both.
        pass
    # The driver's capture keeps the TAIL of long output (BENCH_r03..r05
    # all had "parsed": null with only the end of the big line surviving),
    # so ALSO emit a short trailing summary line — the one placement that
    # cannot be truncated away. Totals-first ordering above covers a
    # head-keeping capture; this line covers the tail-keeping one.
    summary = {
        "metric": "headline_query_wall_time_total",
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "calibration_sec": result["calibration_sec"],
        "flagged_superlinear": result.get("flagged_superlinear", []),
        "load_avg_1m_before": result["load_avg_1m_before"],
        "cpu_count": result["cpu_count"],
        "isolated": result["isolated"],
        "runner": result["runner"],
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
