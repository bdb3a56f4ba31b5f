package graft

/** Exchange-count / join-strategy audit over the round-6 operator
  * additions: `sbt "Test/runMain graft.ExplainAudit"` prints, per
  * query, the hash-exchange count and any nested-loop/cartesian joins
  * (the q123 sketch-pair BNLJ over the |groups|-row sketch table is
  * the one intentional exception). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    val qs = Seq("q113_fuzzy_block_join", "q114_kmv_distinct",
      "q115_stratified_sample", "q116_ewma", "q117_winsorize",
      "q118_skyline", "q119_mode_per_group", "q120_ordered_string_agg",
      "q123_kmv_intersect", "q124_l2_normalize", "q125_ref_integrity",
      "q128_quantile_interp", "q129_transition_matrix", "q130_merit_order",
      "q131_peak_coincidence", "q132_baseline_deviation",
      "q133_nearest_station", "q134_idw_interpolation",
      "q135_linear_trend", "q136_grid_density", "q137_iceberg",
      "q138_scd2_lookup", "q143_bpe_merges", "q145_binned_quantiles",
      "q146_collocations", "q147_entity_resolution",
      "q173_load_duration", "q174_dup_spans",
      "q175_power_curve", "q176_day_type_profile", "q177_ohlc_resample",
      "q178_linear_quality_score", "q179_int8_quantize",
      "q180_strip_dup_spans", "q182_slp_imputation",
      "q183_jaccard_prefix_join", "q184_image_dhash",
      "q185_image_neardup", "q186_audio_fingerprint",
      "q187_ramp_rates", "q188_vocab_coverage", "q189_fixed_sample",
      "q190_best_copy_dedup", "q192_image_dedup_pipeline",
      "q193_derivative_score", "q194_clean_text",
      "q195_incident_windows", "q196_asof_tolerance",
      "q201_priority_sample", "q202_token_mass_median",
      "q203_lsh_recall", "q204_compaction_plan",
      "q205_score_calibration", "q206_auc", "q207_score_percentile",
      "q208_label_propagation", "q209_seasonal_naive_error",
      "q197_capacity_factor", "q198_freshness", "q199_seasonality_index",
      "q200_corpus_pipeline_v2", "q210_stream_priority_sample",
      "q211_source_lang_lift", "q212_quantile_normalize",
      "q213_jpeg_decode", "q214_mulaw_audio", "q215_chunk_overlap",
      "q216_temperature_mix", "q217_flac_audio", "q218_ks_drift",
      "q219_mp3_audio", "q220_video_frames", "q221_video_dedup",
      "q222_video_scenes", "q223_av_sync", "q224_bom_rollup", "q225_pagerank", "q226_hard_negatives",
      "q227_image_resize", "q228_bpe_train", "q229_dsir_selection",
      "q230_jl_projection", "q231_audio_resample",
      "q232_cluster_safe_split", "q233_tokenizer_fertility",
      "q234_edge_histogram", "q235_dbscan", "q237_frequent_pairs",
      "q238_incremental_components",
      "q239_l_diversity", "q240_confusion_metrics", "q241_geohash",
      "q242_retrieval_eval", "q243_soundex", "q244_sequence_motifs",
      "q245_gini_features", "q246_image_flip_crop", "q247_audio_gain_clip",
      "q248_association_rules", "q249_balanced_shards",
      "q250_curation_pipeline", "q251_dup_graph_assortativity",
      "q252_dup_flow_matrix", "q253_mp3_wild_census",
      "q254_image_wild_decode", "q255_audio_wild_decode",
      "q256_quality_classifier", "q257_url_canonical_dedup",
      // streaming twins (q258/q282/q286) are deliberately NOT listed:
      // their builders drain to a memory sink and return the sink
      // table, so the audited plan would be a meaningless one-node
      // scan — their join strategy is pinned by the batch==stream
      // equality specs against their audited batch twins instead
      "q259_uncertainty_sample",
      "q260_table_linearize", "q261_fim_split",
      "q262_ngram_novelty", "q263_heaps_fit", "q264_rank_fusion",
      "q265_dpo_pairs", "q266_token_entropy", "q267_margin_bitext",
      "q268_bradley_terry", "q269_boilerplate_paragraphs",
      "q270_chi2_split_drift", "q271_curriculum_stages",
      "q272_rouge_pairs", "q273_mattr", "q274_influence_select",
      "q275_kneser_ney", "q276_html_extract", "q277_link_hosts",
      "q278_wilson_quality", "q279_source_kl", "q280_url_blocklist",
      "q281_zipf_fit", "q283_doremi_mix", "q284_robots_gate",
      "q285_embed_decontaminate", "q287_epoch_allocation",
      "q288_cluster_balance", "q289_span_corruption",
      "q291_winnowing_pairs", "q292_sampled_dup_rate",
      "q294_source_dup_census", "q295_video_wild_census",
      "q296_silhouette",
      // q297 is a driver-loop composite (k rounds, each its own tiny
      // plan); its per-round plan shape is pinned by ClusterEvalSpec
      "q298_mojibake_repair", "q299_script_mix",
      "q300_matryoshka_eval", "q301_rendezvous_shards",
      // q302 is a streaming twin (see the q258 note above)
      "q303_audio_vad", "q304_reach_sketch", "q305_pq_recall", "q306_cell_conductance",
      "q307_cidr_enrich", "q308_fmp4_census",
      // round 14 — q312's one BNLJ is the documented 1-row×1-row
      // control-plane crossJoin; q314 is a streaming twin (q258 note)
      "q310_webp_wild_decode", "q311_chat_format_lint",
      "q312_fleiss_kappa", "q313_ccnet_buckets",
      "q316_krippendorff_alpha", "q317_padding_waste",
      // round 15 — q318 glob scan + label aggregate, q321/q322
      // single-scan censuses over the new kernels, q323 is a
      // streaming twin (audited via its batch function inside q322),
      // q324 mapPartitions decode; q319/q320 are control-plane
      // (catalog rewrite / driver-built work-list) with no fact scan
      "q318_tree_scan", "q321_nfc_census", "q322_format_census",
      "q324_webp_anim_lossy",
      // round 16 — q325 is control-plane (driver-side footer reads,
      // no fact scan) and deliberately not listed; q326's plan is the
      // two-phase prefix sum (bucket windows + one broadcast)
      "q326_sequence_packing", "q327_packing_window_census",
      // round 17 — q328 adds the rank derivation in front of the
      // prefix sum: one range exchange + per-partition windows + a
      // broadcast of per-partition offsets; q329's permutation is
      // row-local (the only exchange is the census groupBy); q330 is
      // the q328 rank machinery + one union + one aggregate
      "q328_packing_by_source", "q329_epoch_shuffle",
      "q330_length_batching",
      // round 18 — q331 is q329 with the Feistel kernel (row-local,
      // census groupBy is the only exchange); q332 is one width
      // window + two doc aggregates; q333 is the q328 rank + prefix
      // sum + a 1-row broadcast budget scalar (documented crossJoin)
      "q331_feistel_epoch_shuffle", "q332_capped_shingle_census",
      "q333_token_budget_cut",
      // round 19 — q334 is q24's LSH self-join with the bucket cap
      // ENGAGED: the width window rides the join's own (band, bkey)
      // hash partitioning, so the audit shape must equal q24's
      // (no extra exchange for the cap, no cartesian)
      "q334_capped_lsh_pairs")
    for (q <- qs) {
      // tree-walk audit (PlanAudit): the old text grep printed a cached
      // subtree's plan at every scan site, inflating counts (q306's one
      // BNLJ kernel read as 23) — and a real stray BNLJ could hide in
      // that noise; dup= flags unpersisted diamonds by canonical
      // subtree equality
      val c = PlanAudit.audit(
        graft.queries.Registry.queries(q)(spark, dataDir))
      println(s"AUDIT $q hashEx=${c.hashExchanges} bnlj=${c.bnlj} " +
        s"cartesian=${c.cartesian} dup=${c.largestDupSubtree}")
    }
    spark.stop()
  }
}
