package graft.tools

import graft.SparkEntry

/** Plan auditor: prints the physical plan of selected queries and greps for
  * the properties that matter at 100 TB — broadcast joins on dim tables,
  * pushed parquet filters, whole-stage codegen coverage, absence of
  * cartesian products, exact sums through the native `exact_sum`. Usage: runMain graft.tools.ExplainAudit [sfDir] [q...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_returnflag_agg", "q02_star_drilldown", "q04_cut_member",
        "q06_cut_range", "q13_distinct_count", "q17_namedset_drill", "q19_virtual_cube",
        "q28_big_dim_join", "s01_knn_brute", "d02_minhash_lsh",
        "s04_knn_ivf", "t05_top_words", "q35_rollup_routed",
        "t11_decontaminate", "t12_rarity", "s05_knn_quantized",
        "e04_funnel", "t14_lm_score", "e06_time_to_convert",
        "s06_kmeans_assign", "d09_dup_sources", "t15_chunk_windows",
        "d03_simhash", "d10_embedding_neardup_lsh", "t16_seq_pack",
        "t17_collocations", "t18_weighted_sample", "e07_rolling_daily",
        "q42_parallel_period", "d11_fuzzy_decontam", "t19_bpe_merges",
        "t21_trim_spans", "e08_interval_join", "q43_grouping_sets",
        "q44_topk_per_group", "q45_running_total", "q46_share_of_parent",
        "q47_value_histogram", "e10_value_percentiles", "t22_tfidf_keywords",
        "t23_textrank", "d12_edit_verify", "t24_ngram_diversity",
        "t25_bpe_fertility", "q48_ytd", "d13_keep_canonical",
        "m04_decode_batches", "s07_similar_docs", "d14_delta_ingest",
        "e11_anomaly_days", "s08_knn_filtered", "s09_knn_projected",
        "q49_value_quartiles", "q50_rank_in_region", "d15_semantic_dedup",
        "t27_vocab_coverage", "t28_difficulty_buckets", "t29_budget_sample",
        "q51_dq_audit", "q52_rfm_segments", "q53_copurchase",
        "e12_transitions", "d16_semdedup_greedy", "q54_lag_gap_cut",
        "q55_dense_lag", "q56_mdx_growth", "d04_ngram_jaccard",
        "q57_share_of_total", "q58_mdx_share", "t30_stratified_sample",
        "q61_role_partial", "q62_role_full", "q63_drillthrough",
        "q64_mdx_qtd", "t32_temperature_mix", "e13_attribution",
        "s10_mmr_rerank", "q65_mdx_toppercent", "m05_phash_neardup",
        "q67_role_topcount", "e14_session_attribution",
        "t33_repetition_signals", "d18_leakage_split", "d19_containment",
        "e15_position_attribution", "t34_domain_select",
        "t35_corpus_health", "e16_time_decay_attribution", "q68_star_sql",
        "q69_star_sql_role", "e17_top_paths", "q72_mdx_rank",
        "t37_probe_score", "q77_mdx_ancestor", "q78_mdx_closingperiod",
        "q79_mdx_lead", "s12_knn_pq", "e19_kaplan_meier", "t40_soft_dedup",
        "q80_mdx_bottompercent", "q81_mdx_subset_agg", "s13_hybrid_rrf",
        "e20_windowed_funnel", "d20_exact_substring", "d21_source_overlap",
        "s14_knn_ivfpq", "t39_probe_calibration", "t41_decontam_multi",
        "t42_dsir_resample", "e21_stickiness", "t43_boilerplate",
        "m06_ar_buckets", "q84_parent_share", "q85_mdx_closing",
        "d22_tombstone_delete", "t44_corpus_diff", "q86_mdx_generate",
        "s15_knn_pq_exact", "q87_mdx_generate_pct", "s16_knn_range",
        "q88_mdx_extract", "q89_mdx_generate_filter",
        "q90_mdx_generate_order", "q91_mdx_generate_topfilter",
        "m01_multimodal_decode", "m07_video_decode", "m08_video_neardup",
        "m09_audio_decode", "m10_audio_neardup", "m11_video_delta_neardup",
        "m12_ulaw_decode", "m13_adpcm_decode", "m14_transcode_pcm16",
        "m15_resample2x", "m16_alaw_decode", "m17_adpcm_stereo",
        "m18_msadpcm_decode", "m19_msadpcm_stereo", "m20_flac_decode",
        "d23_containment_auto", "q92_mdx_virtual_calc",
        "m21_flac_transcode", "q93_mdx_virtual_filter",
        "d24_ngram_jaccard_auto", "m22_flac24_decode",
        "q94_mdx_pinned_member", "q95_mdx_pinned_override",
        "q96_mdx_pinned_tuple", "q97_mdx_pinned_mixed",
        "q98_mdx_pinned_coarser", "m23_flac32_decode",
        "q99_mdx_pinned_nav", "q100_mdx_tuple_axis")
    val spark = graft.GraftSession.build()
    // AQE applies CollapseCodegenStages at stage materialization, which
    // hides WholeStageCodegen from the printed plan; disable it here (and
    // only here) so codegen coverage is statically visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.count() // finalize AQE so the plan below is the executed one
      val plan = df.queryExecution.executedPlan.toString()
      val formatted = org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
      val full = df.queryExecution.explainString(formatted)
      def has(s: String) = plan.contains(s)
      val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(full)
        .filterNot(_.contains("[]")).length
      // codegen'd operators print as `*(id) Op` in toString / `* Op` in
      // formatted mode
      val codegen = math.max("\\*\\(\\d+\\) \\w".r.findAllIn(plan).length,
        "\\* \\w".r.findAllIn(full).length)
      println(s"== $n: broadcastJoins=$broadcasts sortMergeJoins=$smj " +
        s"nonEmptyPushedFilters=$pushed codegenSpans=$codegen " +
        s"cartesian=${has("CartesianProduct")} bnlj=${has("BroadcastNestedLoopJoin")} " +
        s"exactSum=${has("exact_sum")}")
      if (args.length > 1) println(full)
    }
    spark.stop()
  }
}
