package perfbench

/** Every query of `graft.SparkEntry.queries` belongs to exactly one family,
  * named after the engine layer that does most of its work. The family
  * totals in a traced query_mix run attribute wall time, jobs and planning
  * time to those layers.
  */
object Families {

  val names: Seq[String] = Seq("tpch", "doc_nlp", "text", "dedup",
    "similarity_build", "similarity_probe", "graph", "lakehouse",
    "streaming")

  private def words(s: String): Seq[String] =
    s.trim.split("\\s+").toSeq

  val members: Map[String, Seq[String]] = Map(
    "tpch" -> words("""
      q1_pricing_summary q2_topk_orders q3_customer_revenue
      q4_part_brand_volume q5_nation_revenue q6_forecast_revenue
      q7_running_supplier q8_top_parts_per_brand q9_semi_join
      q10_anti_join q11_distinct_parts q12_cube_flags
      q13_order_lines_dist q14_events_hourly q15_union_extremes
      q16_sessionize q17_asof_join q18_json_props q19_explode_sequence
      q108_attribution_join q109_zorder_tiles q113_funnel
      q114_retention_cohorts q115_transitions q116_value_outliers
      q118_sql_exists q119_trailing_window q120_pivot
      q122_funnel_latency q133_ohlc_bars"""),
    "doc_nlp" -> words("""
      q20_token_count q21_phrase_hits q22_ents_explode q23_qualifier
      q24_dates_extract q25_quantities_extract q26_sections_extract
      q27_contextual_extract q28_terminology_extract q29_tnm_extract
      q40_ner_metrics q41_score_extract q43_fuzzy_match q46_dep_parsing
      q48_date_periods q49_table_quantities q56_redact_spans
      q65_omop_note_nlp q66_icd_terminology q67_hf_dataset_io
      q68_sections_dates_history q72_qualifier_stack"""),
    "text" -> words("""
      q35_quality q36_langid q38_media_features q39_subword_count
      q42_batched_inference q44_split_generator q47_arrow_stage
      q50_repetition q55_vocab_quality q57_top_ngrams
      q60_stratified_sample q62_frame_sample q63_chunk_windows
      q70_sequence_pack q71_corpus_mixture q73_recipe_shuffle_pack
      q74_token_budget q75_temperature_mixture q79_lm_perplexity
      q80_source_cap q81_dsir_select q83_length_deciles q86_gopher_gate
      q90_dataset_split q91_leakage_split q93_fasttext_gate
      q96_hll_distinct q97_cms_heavy_hitters q99_tfidf_keywords
      q100_corpus_profile q101_weighted_sample q103_length_quartiles
      q107_line_gate q110_scene_changes"""),
    "dedup" -> words("""
      q30_exact_dedup q31_jaccard_pairs q32_minhash_lsh q33_simhash
      q37_fingerprint q53_paragraph_dedup q54_decontaminate
      q58_semantic_dedup q59_filter_pipeline q61_repeated_runs
      q64_lsh_observability q82_corpus_card q84_bloom_decontaminate
      q89_assembly_recipe q95_exact_substring q98_containment_pairs
      q106_media_neardup q134_declarative_hamming"""),
    "similarity_build" -> words("""
      q45_ann_lsh q51_ann_ivf q76_ivf_index_probe q77_ann_pq
      q78_ann_ivfpq q85_bm25 q87_ann_sq8 q88_bm25_index_probe
      q94_random_projection q102_neardup_index_probe q105_pq_index_probe
      q111_embedding_dispersion q112_embedding_covariance"""),
    "similarity_probe" -> words("""
      q34_embedding_topk q52_cosine_neardup q76p_ivf_probe q88p_bm25_probe
      q102p_neardup_probe q104_ann_recall q105p_pq_probe q131_hybrid_rrf
      q132_knn_classify q140_recall_curve"""),
    "graph" -> words("q69_dedup_components q117_pagerank q128_triangle_count"),
    "lakehouse" -> words("""
      q92_snapshot_diff q123_merge_upsert q124_cdc_incremental_stats
      q125_manifest_scan q126_time_travel q127_bloom_lookup
      q129_sidecar_refresh q130_change_audit q135_table_checksum
      q136_versioned_merge q137_graft_box_scan q138_graft_point_lookup
      q139_dv_point_delete q141_versioned_compact
      q142_graft_write_roundtrip q143_table_history q145_catalog_sql
      q147_versioned_dv q148_history_sql q149_replace_partition
      q150_shallow_clone q151_schema_evolution q152_stats_skipping
      q153_sql_dml q154_merge_mirror q155_dml_mor q156_type_widening
      q158_merge_schema_evolution q159_nested_rename_replay
      q160_merge_widen"""),
    "streaming" -> words("""
      q121_session_window q144_version_tail q146_cdc_replay
      q157_cdc_rename_replay"""))

  /** Query name -> family. Built eagerly so a name listed twice fails. */
  val familyOf: Map[String, String] = {
    val pairs = for (f <- names; q <- members(f)) yield q -> f
    val dup = pairs.groupBy(_._1).collect { case (q, ps) if ps.size > 1 => q }
    require(dup.isEmpty, s"queries listed in two families: ${dup.mkString(", ")}")
    pairs.toMap
  }

  /** Queries timed by query_mix, covering every family: one to three
    * members of each, from the members that take under 2 s at sf0.001 on
    * 4 cores. A pass over all 164 queries takes ~130 s, longer than one
    * benchmark run may last.
    */
  val mix: Seq[String] = words("""
    q1_pricing_summary q7_running_supplier q13_order_lines_dist
    q20_token_count q26_sections_extract
    q35_quality q47_arrow_stage
    q30_exact_dedup q54_decontaminate
    q87_ann_sq8 q112_embedding_covariance
    q34_embedding_topk
    q117_pagerank
    q92_snapshot_diff q149_replace_partition
    q121_session_window""")
}
