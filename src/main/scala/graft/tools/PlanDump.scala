package graft.tools

/** Dumps formatted physical plans for representative queries to
  * stdout (captured into docs/PLANS.txt). Dev tool — the enforced
  * versions of these plan claims live in PlanAuditSpec; this file is
  * for human review of the shapes.
  */
object PlanDump {
  val Representative: Seq[String] = Seq(
    // one per family: scan pushdown, broadcast dims, dedup banding,
    // similarity broadcast, text two-level reduction, rolling windows
    "q02_filter_project", "q03_revenue_by_nation", "q33_rfm_segments",
    "q34_anomaly_zscore", "q35_inter_arrival", "q36_last_touch",
    "q37_key_skew",
    "ev13_pipeline_e2e", "ev15_asof_enrich", "ev26_inflight_gauge",
    "ev27_rate_limit", "ev29_enrich_fallback",
    "dd03_minhash_lsh", "dd05_embed_cosine", "dd08_jaccard_prefix",
    "dd15_containment", "dd16_source_overlap", "dd17_lsh_occupancy",
    "ss03_ann_ivf", "ss09_kmeans_iterate", "ss10_scalar_quant",
    "ss12_pq_quantize",
    "tx08_winnowing", "tx14_ttr_diversity", "tx16_gram_dup_rate",
    "tx17_mix_plan",
    "pk01_token_packing", "pk04_cdc_chunks", "q38_incr_merge",
    "mm06_payload_shards",
    // round-5 fourth wave: rule filter (pure narrow), watermark
    // two-level replay, Lorenz tiling, phash banding, fuzzy decontam
    "tx19_rule_filter", "ev30_watermark_fit", "q40_spend_lorenz",
    "mm07_phash_neardup", "dd18_fuzzy_contamination",
    // round-5 late waves: fixed-point S-curve fanout, bounded octave
    // censuses, probe-recall TakeOrdered branches, full-outer id audit
    "dd21_band_scurve", "ev36_gap_octaves", "ss16_probe_recall",
    "ev37_burst_minutes", "ss17_index_coverage", "ss18_dim_stats",
    // round-5 final waves: capped-banding mitigation, exact-ntile
    // curriculum, the curate→dedup→pack e2e composition
    "dd23_capped_banding", "pk10_curriculum_phases",
    "pk11_curate_pack_e2e", "ev39_session_profile",
    // round-6 waves: rank-range octaves (no global sort), salted
    // top-k, two-level packing prefix sum, value-frequency quartiles,
    // incremental band probe, FK full-outer audit, residual PQ
    "tx21_zipf_octaves", "tx06_collect_tokens", "mm08_interleaved_pack",
    "q46_grouped_quartiles", "dd27_incremental_dedup",
    "q48_referential_audit", "ss21_ivf_pq_residual", "dd25_ngram_novelty",
    // round-6 late waves: zone-map skipping, closed-form packing
    // contamination, bloom bit simulation, panel nprobe, explosion
    // pre-flight via exact ntile, SCD2 windows, interval-arithmetic
    // coverage curve
    "q50_zorder_skipping", "pk15_boundary_window", "dd28_bloom_prefilter",
    "ss25_panel_nprobe", "q53_join_explosion", "q52_scd2_intervals",
    "tx26_topk_coverage", "ss24_shard_fanout",
    // round-6 final waves: sublinear sketches, iterative graph
    // rounds (exchange reuse), merkle summaries, bounded bitemporal
    // grid probe, cascade dedup, novelty equi-agg
    "q55_countmin_sketch", "q56_supplier_pagerank", "q57_merkle_diff",
    "q60_bitemporal_grid", "mm12_dedup_cascade", "dd32_band_precision",
    "tx31_novelty_curve", "ev58_value_drift_tvd",
    // round-6 last waves: KMV bottom-k, exact range plan, two-level
    // peak concurrency, bounded-grid interpolation, dual-pipeline
    // agreement, wedge-closure graph audit, bucketed kNN graph,
    // part-partitioned ledger, integer CUSUM, A/A-calibrated lift
    "q61_kmv_distinct", "q63_range_plan", "ev62_state_store_sizing",
    "ev63_resample_interpolate", "dd33_method_agreement",
    "dd36_transitivity", "ss28_mutual_knn", "q64_depletion_ledger",
    "q69_cusum_changepoint", "q68_ab_lift",
    // closing waves: double histogram-CDF MAD, closed-form jackknife
    // CI, exact KS over bounded CDFs, truncation-recall sweep,
    // dual-layout write amplification
    "q71_mad_robust", "dd37_estimator_ci", "q73_ks_test",
    "ss33_matryoshka_recall", "pk19_write_amplification",
    // round-6 waves previously undumped — at least one per family
    // per wave: conversion funnels, drift/tvd, compaction pricing,
    // bot cadence, engagement ramps, bounce census, alert debounce,
    // overload contingency; reconciliation, Benford, autocorrelation,
    // trend slope, weighted quantiles, repurchase cycles; boilerplate,
    // artifact/sentence censuses, hapax, joint length-quality,
    // code-switching; keeper policies, shingle-size sweeps, dup
    // provenance, source sketches; staleness, mutual-kNN drift,
    // tombstones, PQ utilization; truncation loss, shuffle locality;
    // frame sampling, cascade byte pricing
    "ev64_compaction_debt", "ev65_conversion_latency", "ev67_bot_regularity",
    "ev68_engagement_ramp", "ev69_bounce_census", "ev70_alert_debounce",
    "ev71_overload_errors",
    "q58_order_reconciliation", "q59_benford_census", "q62_linear_attribution",
    "q65_cardinality_error", "q66_daily_autocorr", "q67_trend_slope",
    "q70_weighted_quantiles", "q72_repurchase_cycle",
    "tx28_boilerplate", "tx29_artifact_census", "tx30_sentence_stats",
    "tx32_hapax_census", "tx33_len_quality_joint", "tx34_code_switching",
    "dd29_dedup_mix_shift", "dd30_keeper_policy_sweep",
    "dd31_shingle_size_sweep", "dd34_dup_provenance", "dd35_source_sketch",
    "ss26_mips_norm_prune", "ss27_index_staleness", "ss29_centroid_drift",
    "ss31_tombstone_ghosts", "ss32_pq_utilization",
    "pk16_truncation_loss", "pk17_worker_skew", "pk18_shuffle_locality",
    "mm11_frame_sample", "mm13_cascade_bytes",
    // round-7 waves: lake StreamerMessage ingest (join-free triple
    // unnest), banding planner (pair-free occupancy folds), gains
    // table, stopword profile, two-stage recall, lateness quantiles
    "ev72_lake_ingest", "dd38_band_allocation", "q74_gains_table",
    "tx35_stopword_profile", "ss34_two_stage_recall",
    "ev74_lateness_quantiles", "ev75_join_state_model",
    "dd39_dup_distance_octaves", "tx36_len_quantiles_by_lang",
    "pk20_window_doc_mixing", "mm14_cross_source_sharing",
    // round-8 waves: capped+star simhash pair generation and its
    // pricing sweep, the BPE trainer's encode-side join
    "dd40_simhash_cap_sweep", "dd07_hamming_pairs", "pk22_bpe_fertility",
    // round-8 late waves: the cross-snapshot exact-carry→banded-probe
    // cascade (fingerprint join, two banded sides, shortlist verify),
    // the one-census drift fold, the nlist sweep's unioned broadcast
    // assignments, the delta-maintenance union-aggregate, and the
    // double-cumulative Lindley windows
    "dd41_cross_snapshot", "tx37_snapshot_drift", "ss35_nlist_sweep",
    "q75_delta_view_maintenance", "ev76_backlog_trajectory",
    // round-8 closing waves: the bitmap-word audience fold, the
    // stacked two-stage Lindley windows, the TakeOrdered PMI top-k,
    // the prefix-cache census, the TAR entry rollup (mapPartitions
    // codec + two-level shard/source aggregate), the class-sampled
    // duplication estimator's single-census fan-out
    "q78_bitmap_audience", "ev78_stage_cascade", "ev79_reorder_depth",
    "tx40_pmi_collocations", "pk23_prefix_cache_yield",
    "mm18_tar_roundtrip", "dd43_anchor_sampling", "q79_halflife_decay",
    // final round-8 waves: the histogram build + non-equi probe join,
    // the weighted-Jaccard banded shortlist with its slim explodes,
    // the per-source cumsum packer, the gridless Fano fold, the
    // routed-panel skew census, the commit-window nesting rollups
    "q80_histogram_selectivity", "dd44_weighted_jaccard",
    "pk25_shard_packer", "ev81_fano_overdispersion",
    "ss38_routing_skew", "ev80_replay_cost", "tx41_entropy_rate",
    "mm19_wav_roundtrip",
    // round-8 waves previously undumped: b-bit minhash, radius census,
    // hubness pathology, segment-merge recall, conditional surprisal,
    // burstiness, adaptive stopwords, BPE train, budget waterfill,
    // dedup-aware packing, the four real-codec censuses + sniffing,
    // DOULION wedges, KMV set algebra
    "dd42_bbit_minhash", "ss36_radius_census", "ss37_hubness",
    "ss39_segment_merge_recall", "tx38_surprisal_filter",
    "tx39_burstiness", "tx42_adaptive_stopwords", "pk21_bpe_train",
    "pk24_budget_waterfill", "pk26_dedup_aware_packing",
    "mm15_pgm_decode", "mm16_warc_roundtrip", "mm17_audio_frames",
    "mm20_type_sniffing", "ev77_little_law", "q76_kmv_setops",
    "q77_triangle_doulion",
    // round 9: the compressed-image census (same shape as mm15 —
    // join-free mapPartitions decode + one aggregate) and the
    // decode→resize→re-encode chain
    "mm21_png_decode", "mm22_png_resize",
    // round 10: linear sampled hubness (broadcast fixed panel),
    // color-PNG census, density-planner occupancy sweep
    "ss40_hubness_sampled", "mm23_png_color", "dd45_band_density_plan",
    // rounds 11-12: the census→chooser frames (bounded dial windows
    // over 1-row/3-row/|types|-row censuses) and the histogram-folded
    // lateness pick (ev74 above shows the same fold)
    "dd46_band_autopick", "ev82_watermark_autopick",
    "q81_salt_autopick", "q82_partition_autopick",
    "pk27_shard_size_autopick")

  /** Usage: runMain graft.tools.PlanDump [sfDir] [name...] — any
    * names after the data dir dump ONLY those queries (the
    * before/after plan artifacts under plans/ are cut from these
    * dumps). The session is the bench contract at SPARK_GRAFT_CPUS:
    * plan artifacts that claim a parallelism-dependent shape (the
    * size-aware scatterBy caps) must be dumped at the bench's core
    * count, or the cap clamps to the dump session's and the
    * before/after diff vanishes.
    */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Representative
    val spark = graft.Bench.buildSession(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"========== $name ==========")
      println(graft.SparkEntry.queries(name)(spark, d).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
