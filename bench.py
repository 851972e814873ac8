#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Headline set = one representative per operator family, weighted toward
the shuffles that dominate at scale (agg, join, window, dedup, ANN).
Small results are fully collect()ed (materializes every value); large
outputs are reduced to a single xxhash64 aggregate so every output value
is computed but only 8 bytes cross py4j.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from knowledge_model_spark.plans import load_registry
from knowledge_model_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# name → force_collect (True for small results: materialize every value;
# False → hash-reduce for large outputs where row transfer would measure
# py4j serialization, not the engine)
HEADLINE: dict[str, bool] = {
    "q1_pricing_summary": True,
    "q3_shipping_priority": True,
    "q5_region_revenue": True,
    "agg_cube": True,
    "join_semi_orders_with_big_items": False,
    "join_anti_customers_without_orders": False,
    "join_asof_last_event_before_order": False,
    "window_top3_orders_per_customer": False,
    "window_running_revenue": False,
    "events_sessionize_30m": False,
    "text_split_passages": False,
    "text_clean_battery": False,
    "text_token_stats": False,
    "dedup_exact_survivors": False,
    "dedup_minhash_lsh": False,
    "dedup_minhash_lsh_md5": False,
    "dedup_embedding_cosine": False,
    "dedup_connected_components": False,
    "embed_seam_parity": False,
    "ann_bruteforce_topk": True,
    "ann_lsh_topk": True,
    "retrieval_threshold_cascade": True,
    "retrieval_rerank_topk": True,
    "eval_recall_label_at_10": True,
    "postprocess_battery": False,
    "chunk_sentence_budget": False,
    "text_pii_redact": False,
    "quality_gopher_rules": False,
    "quality_repetition_rules": False,
    "decontam_report": False,
    "dedup_char_ngram_jaccard": False,
    "text_winnow_fingerprint": False,
    "dedup_containment_pairs": False,
    "text_boilerplate_scrub": False,
    "dedup_spans_first_seen": False,
    "sample_mixture_temperature": False,
    "dedup_semantic_pairs": False,
    "text_bm25_rank": True,
    "join_fuzzy_name_qgram": True,
    "retrieval_hybrid_rrf": True,
    "quality_dsir_weights": False,
    "sample_hard_negatives": True,
    "ann_pq_topk": True,
    "graph_pagerank_trade": False,
    "events_scd2_user_type": False,
    "agg_hll_region_rollup": True,
    "agg_kll_quantile_merge": True,
    "join_asof_cogrouped": False,
    "agg_incremental_state": True,
    "layout_zorder_keys": False,
    "eval_ndcg_mrr_at_10": True,
    "text_bpe_tokenize": False,
    "sample_kfold_assign": True,
    "events_variant_props": True,
    "sql_recursive_chain_walk": False,
    "sql_pipe_syntax_revenue": True,
    "agg_heavy_hitter_terms": True,
    "join_bloom_pruned": False,
    "events_funnel_steps": True,
    "text_url_normalize": False,
    "quality_unigram_logppl": False,
    "retrieval_mmr_rerank": True,
    "sample_fixed_per_group": True,
    "agg_corr_regression": True,
    "ann_ivfpq_topk": True,
    "events_retention_cohorts": True,
    "cdc_apply_latest": False,
    "cdc_snapshot_diff": False,
    "events_anomaly_zscore": True,
    "quality_k_anonymity": True,
    "quality_classifier_score": False,
    "sql_lateral_topk_per_group": True,
    "setop_multiset_all": False,
    "events_gap_fill_hourly": False,
    "events_gap_interpolate_hourly": False,
    "stats_chi2_lang_source": True,
    "dedup_bow_cosine": False,
    "events_ohlc_hourly": False,
    "sample_group_holdout": True,
    "diag_key_skew": True,
    "agg_bitmap_distinct_rollup": True,
    "events_attribution_last_touch": False,
    "events_ewma_smooth": False,
    "multimodal_phash_dedup": False,
    "agg_cms_frequency": True,
    "q13_customer_distribution": True,
    "q14_promo_revenue_ratio": True,
    "q18_large_volume_orders": True,
    "agg_hll_set_intersection": True,
    "chunk_content_defined": False,
    "dedup_cdc_chunks": False,
    "events_markov_transitions": True,
    "text_pmi_cooccurrence": True,
    "sql_group_by_all_revenue": True,
    "stats_bootstrap_ci": True,
    "q4_order_priority_check": True,
    "q6_forecast_revenue": True,
    "agg_winsorized_mean": True,
    "join_hot_key_salted": True,
    "eval_dedup_recall_vs_exact": True,
    "events_sessionize_dynamic_gap": False,
    "events_rolling_7d_distinct": True,
    "ann_sq8_topk": True,
    "graph_triangle_count": True,
    "er_name_clusters": True,
    "stats_equidepth_histogram": True,
    "stats_welch_ttest": True,
    "q15_top_supplier": True,
    "events_sequence_pattern": False,
    "market_basket_rules": False,
    "embeddings_standardize": False,
    "events_twap_user": False,
    "corpus_overlap_matrix": True,
    "join_asof_forward_next_event": False,
    "q22_global_sales_opportunity": True,
    "q2_min_cost_supplier": True,
    "q7_volume_shipping": True,
    "q8_market_share": True,
    "q9_product_profit": True,
    "q10_returned_items": True,
    "q11_important_values": True,
    "q12_late_priority_counts": True,
    "q16_supplier_part_counts": True,
    "q17_small_quantity_revenue": True,
    "q19_disjunctive_revenue": True,
    "q20_part_promotion": True,
    "q21_waiting_suppliers": True,
    "embeddings_jl_project": False,
    "text_keyword_tag": False,
    "corpus_kl_divergence": True,
    "sample_target_mixture": False,
    "training_length_batching": True,
    "training_span_corruption": False,
    "quality_char_entropy": False,
    "sample_quality_budget": True,
    "text_vocab_build": True,
    "quality_bigram_backoff": False,
    "text_phrase_search": True,
    "training_chat_render": False,
    "training_preference_pairs": True,
    "graph_kcore_decomposition": False,
    "graph_bfs_hops": True,
    "stats_mannwhitney_u": True,
    "quality_luhn_audit": False,
    "stats_bh_fdr": True,
    "join_null_safe_counts": True,
    "text_explode_outer_longtoks": False,
    "sql_array_hof_battery": False,
    "text_light_stem": True,
    "events_robust_zscore_mad": False,
    "graph_ppr_customer_seeds": False,
    "eval_recall_at_k_sweep": True,
    "embeddings_single_link_clusters": False,
    "quality_readability_fk": False,
    "events_attribution_linear": False,
    "corpus_zipf_slope": True,
    "window_cume_dist_nth": False,
    "dedup_cluster_best_survivors": False,
    "retrieval_hybrid_weighted": True,
    "stats_ks_test": True,
    "corpus_js_divergence": True,
    "stats_permutation_test": True,
    "quality_classifier_calibration": True,
    "events_seasonal_profile": True,
    "events_cusum_changepoint": True,
    "sample_time_split": True,
    "graph_degree_powerlaw": True,
    "dedup_cluster_size_histogram": True,
    "agg_mode_quantity": True,
    "join_asof_nearest_event": False,
    "sql_star_except_projection": False,
    "events_funnel_latency": True,
    "corpus_crossdup_matrix": True,
    # r4: the previously-unbenched tail — bench now covers the FULL
    # registry so the cross-round regression net has no blind spots
    "dedup_ngram_jaccard": True,
    "dedup_exact_groups": True,
    "dedup_cluster_survivors": False,
    "decontam_survivors": False,
    "sample_stratified_lang": False,
    "window_range_frame_revenue": False,
    "corpus_token_drift": True,
    "sample_weighted_priority": False,
    "udtf_sentence_split": False,
    "dedup_simhash": True,
    "dedup_simhash_md5": True,
    "eval_ann_recall_vs_exact": True,
    "date_functions_orders": False,
    "month_sequence_gap_scan": True,
    "case_when_price_tiers": True,
    "text_lang_id": False,
    "text_quality_score": False,
    "text_fingerprint": False,
    "text_length_histogram": True,
    "text_source_lang_matrix": True,
    "text_accent_fold": False,
    "text_xml_extract": False,
    "events_tumbling_1h": False,
    "events_sliding_1h_30m": False,
    "events_json_props": False,
    "events_type_pivot": True,
    "events_time_rollup": False,
    "join_interval_overlap": False,
    "join_interval_overlap_count": False,
    "events_interval_union": True,
    "eval_answer_token_f1": False,
    "dedup_duplicate_substring_spans": False,
    "multimodal_image_resize": False,
    "ann_ivf_topk": True,
    "multimodal_image_features": False,
    "multimodal_frame_sample": False,
    "multimodal_audio_features": False,
    "agg_distinct_counts": True,
    "agg_rollup": True,
    "agg_grouping_sets": True,
    "join_left_outer_order_counts": False,
    "join_full_outer_nation_activity": True,
    "join_theta_price_above_retail": False,
    "join_range_acctbal_band": False,
    "window_lead_lag_order_gap": False,
    "window_ntile_percent_rank": False,
    "window_dense_rank_parts": False,
    "setop_nations_with_both": True,
    "setop_customer_only_nations": True,
    "setop_union_all_keys": False,
    "dedup_first_order_per_customer": False,
    "embeddings_label_centroids": True,
    "udaf_label_centroid": True,
    "retrieval_pack_context": True,
    "corpus_dual_variant": False,
    "corpus_weighted_merge": False,
    "chunk_word_budget": False,
    "agg_percentiles": True,
    "unpivot_flag_metrics": True,
    "subquery_scalar_above_avg": False,
    "map_event_type_shares": True,
    "text_pdf_link_extract": False,
    "text_page_furniture": False,
    "postprocess_unhelpful_flag": False,
    "retrieval_build_prompt": True,
    "sample_train_split": False,
    "pack_training_sequences": False,
    "text_top_terms": True,
    # new in r4
    "text_dup_ngram_mass": False,
    "text_mojibake_score": False,
    "text_bpe_learn_merges": True,
    "quality_l_diversity": True,
    "stats_ks_test_kll": True,
    "ann_range_search": True,
    "join_asof_tolerance_event_order": False,
    "stats_proportions_ztest": True,
    "stats_mannwhitney_u_kll": True,
    "dedup_threshold_curve": True,
    "quality_drift_trend": True,
    "events_rolling_1h_value": False,
    "multimodal_audio_vad": False,
    "graph_link_prediction_jaccard": True,
    "stats_anova_oneway": True,
    "corpus_health_report": True,
    # new in r5: the KLL twins of the exact-percentile family, and the
    # real PDF→text round-trip (genuine FlateDecode both directions)
    "events_funnel_latency_kll": True,
    "agg_winsorized_mean_kll": True,
    "multimodal_pdf_text": False,
    "multimodal_pdf_passages": False,
    "multimodal_video_pipeline": True,
    # new in r6: the KLL twin of the last exact-percentile plan, and
    # embedded-figure extraction from PDFs (DCT XObjects -> real JPEGs)
    "agg_percentiles_kll": True,
    "multimodal_pdf_images": False,
    "multimodal_image_codec_matrix": False,
    "multimodal_audio_codec_matrix": False,
    # new in r8: the ANN certification twins (md5-derived randomness,
    # oracle-checked end to end; xxhash64 stays the production default)
    "ann_lsh_topk_md5": True,
    "ann_ivf_topk_md5": True,
    "ann_pq_topk_md5": True,
    "eval_ann_recall_vs_exact_md5": True,
    "ann_ivfpq_topk_md5": True,
    # new in r8 (second batch): late-interaction retrieval, interval
    # peak concurrency, RFM segmentation, best-of-n selection, CCNet
    # perplexity buckets — all oracled
    "retrieval_maxsim_topk": True,
    "events_peak_concurrency": True,
    "events_rfm_scores": True,
    # new in r9: the KLL quintile scale twin of events_rfm_scores
    "events_rfm_scores_kll": True,
    "training_best_of_n": True,
    "quality_ppl_buckets": True,
    "multimodal_exif_extract": True,
    "eval_pass_at_k": True,
    "sample_coreset_kcenter": True,
    "ann_nsw_topk": True,
    "quality_ppl_buckets_kll": True,
    "graph_modularity_lang": True,
    "eval_bleu_components": False,
    "eval_rouge_l": False,
    "sql_scalar_udf_revenue": True,
    "embeddings_zca_whitening": True,
    "sample_stratified_neyman": True,
    "sample_bottomk_mergeable": True,
    "eval_chrf": False,
    "text_rake_keyphrases": False,
    "graph_hits_trade": False,
    "stats_spearman_rho": True,
    "stats_kendall_tau": True,
    "corpus_gini_concentration": True,
    "graph_assortativity_trade": True,
    # new in r10: seasonality/trend/inequality stats, streaks, audience
    # overlap, systematic thinning, blocked edit-distance ER, QUALIFY
    "events_acf_hourly": True,
    "events_streak_longest": True,
    "events_user_overlap_jaccard": True,
    "stats_linear_trend": True,
    "stats_benford_digits": True,
    "stats_theil_between": True,
    "quality_herfindahl_index": True,
    "sample_systematic_thin": True,
    "dedup_levenshtein_names": True,
    "sql_qualify_topk": True,
    "text_unigram_lm_train": True,
    "multimodal_pdf_triage": False,
    "text_unigram_lm_tokenize": False,
    "embeddings_matryoshka_recall": True,
    "streaming_sessionize_30m": False,
    "streaming_tumbling_1h": False,
    # new in r11: attribution followup counts, the two remaining
    # streaming certifications, KMV theta set ops, z-order skipping
    # proof, WordPiece apply
    "events_click_followup_30m": False,
    "streaming_interval_join_left": False,
    "streaming_dedup_tumbling_1h": False,
    "agg_theta_sketch_setops": True,
    "layout_zorder_skipping": True,
    "text_wordpiece_tokenize": False,
    "quality_compression_ratio": False,
}


def _warmup(spark) -> None:
    """Prime the JVM (codegen, shuffle machinery), the Python UDF workers,
    and the filesystem cache so timings measure the engine, not cold
    start.  Standard benchmarking practice — not query work."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    _noop = F.pandas_udf(lambda s: s, "long")
    # repartition so EVERY core's Python worker starts and imports
    # pandas/numpy now — otherwise the first pandas-UDF query is billed
    # ~10 s of one-time worker spin-up
    cpus = spark.sparkContext.defaultParallelism
    spark.range(100_000).repartition(cpus).select(_noop("id")).count()
    # the Arrow string-serialization path initializes separately from the
    # primitive path; exercise it too so the first string-kernel query
    # isn't billed the engine's one-time cost
    _snoop = F.pandas_udf(lambda s: s.str.len(), "long")
    spark.range(100_000).repartition(cpus).select(
        _snoop(F.format_string("warm-%d", "id")).alias("n")
    ).agg(F.sum("n")).collect()
    from knowledge_model_spark.session import load_tables

    for df in load_tables(spark, SF_DIR).values():
        df.limit(1).count()


def _calibrate(spark) -> float:
    """Fixed-work, IO-free machine-speed probe (r9 verdict item 5):
    xxhash64-fold over range(10^7), min of 3 — pure JVM codegen work
    with a constant plan, so its wall time tracks the MACHINE (CPU
    contention, thermal state, JIT health), not the engine under
    test.  Recorded at bench start/middle/end; cross-round per-query
    comparisons divide by the run's median calibration to cancel the
    documented ~1.9× ambient drift (see PLANS.md)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(10_000_000).agg(
            F.bit_xor(F.xxhash64("id"))
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    spark = get_spark("kms-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    _warmup(spark)
    calib = {"start": _calibrate(spark)}

    # min AND median over REPS runs per query (r5 verdict item 4):
    # single-run timings at this scale swing up to ~3× on plan/JIT/GC
    # noise (an unchanged join_asof plan measured 1.09 s one round and
    # 2.41 s the next, and the r5 driver-vs-builder same-code delta was
    # ~15% uniformly).  The MINIMUM is the low-variance estimator of
    # the plan's true cost — cross-round regression claims compare
    # mins; the MEDIAN is recorded alongside so a real 1.5× regression
    # on a sub-second query is distinguishable from one noisy rep.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    rep_counts: dict[str, int] = {}
    total = 0.0
    mid_at = len(HEADLINE) // 2
    for qi, (name, force_collect) in enumerate(HEADLINE.items()):
        if qi == mid_at:
            calib["mid"] = _calibrate(spark)
        spec = registry.get(name)
        if spec is None:
            continue

        def one_rep() -> float:
            t0 = time.perf_counter()
            df = spec.fn(spark, SF_DIR)
            if force_collect:
                df.collect()
            else:
                # A bare count() would let Catalyst prune the very work being
                # measured (projection-only queries like text_clean_battery
                # need no columns to count rows).  Hashing every output column
                # into one aggregate forces full evaluation while still moving
                # only 8 bytes to the driver.  bit_xor (not sum): ANSI-safe —
                # no int64 overflow — and order-independent.
                df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()
            return time.perf_counter() - t0

        times = sorted(one_rep() for _ in range(max(1, reps)))
        # Adaptive extra reps (r8, r7 verdict item 6): the r8 diagnostic
        # pinned the cross-session ±40% swings on UNTOUCHED code
        # (ann_pq/ivfpq) to JIT warm-up state — a cold session's first
        # rep of a codegen-heavy plan runs up to 4× its heated cost
        # (measured 9.9 s → 2.4 s within one session), and min-of-3
        # converges only after enough heat.  When the rep spread says
        # the JIT was still warming (max/min > 1.5), buy up to two more
        # reps so the recorded min is the plan's warm cost, not an
        # artifact of where the query sits in the run order.
        if reps > 1 and times[-1] > 1.5 * times[0]:
            for _ in range(2):
                t = one_rep()
                improved = t < times[0] * 0.98
                times = sorted(times + [t])
                if not improved:
                    break  # converged: the min is the warm cost
        spreads[name] = round(times[-1] / max(times[0], 1e-9), 2)
        timings[name] = round(times[0], 3)
        rep_counts[name] = len(times)
        # true median: average the two middle elements for even rep
        # counts (times[n//2] alone is the UPPER middle — with reps=2
        # it equals the max, biasing the recorded 'median' high)
        mid = len(times) // 2
        med = (
            times[mid]
            if len(times) % 2
            else (times[mid - 1] + times[mid]) / 2
        )
        medians[name] = round(med, 3)
        total += times[0]

    calib["end"] = _calibrate(spark)
    # calibration-normalized record (r10 verdict item 6): per-query
    # min divided by the run's MEDIAN calibration probe, so a
    # cross-round comparison is one division-free dict diff — a query
    # is only slower if its normalized cost rose, regardless of the
    # machine's ambient speed that run (the probe itself moved 2.2x
    # during the documented r10 run-1 dip).  Unit: multiples of the
    # fixed 10^7-row xxhash-fold probe.
    calib_med = sorted(calib.values())[len(calib) // 2]
    normalized = {
        q: round(t / calib_med, 2) for q, t in timings.items()
    }
    line = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # machine-speed denominator (r9 verdict item 5): fixed-work
        # IO-free probe at start/middle/end of the run — normalize
        # cross-round per-query deltas by the runs' median calibration
        # before calling anything a regression
        "calibration": calib,
        "calibration_median": calib_med,
        "value_normalized": round(total / calib_med, 2),
        "queries_normalized": normalized,
    }
    print(json.dumps(line))

    # Persist the full per-query record in-repo: the driver's
    # BENCH_r0N.json keeps only a 2000-char tail, so cross-round
    # per-query comparisons were impossible without re-running old
    # code.  BENCH_HISTORY.jsonl is append-only and owned by bench.py;
    # `round` is inferred as 1 + the highest driver-recorded round so
    # each driver run lands under the round it belongs to.
    try:
        import glob
        import re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "round": (max(rounds) + 1) if rounds else 1,
                        "total": line["value"],
                        "sf": sf,
                        "n_queries": len(timings),
                        # BASE rep count; queries whose spread
                        # tripped the adaptive-warm-up rule ran more —
                        # per-query truth is queries_reps (the r8
                        # review found the flat field misstated the
                        # sample size behind min/median for exactly
                        # the flagged queries)
                        "reps": max(1, reps),
                        "queries_reps": rep_counts,
                        "queries": timings,  # per-query MIN of reps
                        "queries_median": medians,
                        # r8 variance record (r7 verdict item 6): per-
                        # query max/min rep spread.  A spread > 1.5
                        # marks a JIT-warmup-sensitive query — its
                        # cross-SESSION min can swing ±40% on untouched
                        # code (diagnosed r8: cold-session first rep of
                        # ann_pq_topk 9.9 s vs 2.4 s heated), so a
                        # round-over-round delta on a flagged query is
                        # warmup state, not growth, unless the slope
                        # harness agrees.
                        "queries_rep_spread": spreads,
                        # only flag queries whose WARM cost is non-
                        # trivial: spread on a sub-half-second query is
                        # scheduler noise, not JIT signal
                        "warmup_sensitive": sorted(
                            q
                            for q, s in spreads.items()
                            if s > 1.5 and timings.get(q, 0.0) >= 0.5
                        ),
                        # machine-speed probe (start/mid/end) — the
                        # per-run denominator for cross-round deltas
                        "calibration": calib,
                        "calibration_median": calib_med,
                        # per-query min / median calibration: the
                        # machine-readable cross-round comparison unit
                        "total_normalized": round(total / calib_med, 2),
                        "queries_normalized": normalized,
                    }
                )
                + "\n"
            )
    except OSError:
        pass  # history is best-effort; never fail the bench over it


if __name__ == "__main__":
    main()
