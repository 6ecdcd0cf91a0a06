package graft

/** Plan audit — prints formatted physical plans for representative
  * queries so scan pushdown, broadcast choices, and codegen spans can
  * be reviewed (and regression-checked by PlanSpec).
  * Usage: runMain graft.PlanAudit [sfDir] [query...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter_project", "q3_star_join", "q4_fact_join",
        "q5_topk", "q13_gmv", "q27_cosine_topk", "q25_minhash_lsh",
        "q35_levenshtein", "q39_hash_sample", "q41_centroids",
        "q46_range_join", "q49_tfidf",
        "q55_contamination", "q57_embed_quantize", "q58_shuffle_shard",
        "q61_curate_pipeline", "q62_repetition", "q63_zorder",
        "q64_boilerplate", "q65_merge_upsert", "q66_scd2",
        "q67_heavy_hitters", "q68_pq_adc", "q69_profile", "q70_cohort",
        "q71_dup_spans", "q72_bottomk_sample", "q73_histogram",
        "q74_iqr_outliers", "q75_densify", "q76_semdedup",
        "q77_weighted_sample", "q78_bpe_pairs", "q79_triangles",
        "q80_zscore", "q81_kmeans_train", "q86_prefix_jaccard",
        "q88_containment", "q97_hard_negatives", "q98_canonical_docs",
        "q99_mix_plan", "q100_mmr_topk", "q101_expectations", "q102_drift",
        "q123_ks_drift", "q125_dsir_resample", "q126_host_rollup",
        "q127_host_blocklist", "q128_quality_gate", "q129_domain_quota",
        "q130_curation_funnel", "q131_tpch_q3", "q133_tpch_q5",
        "q136_tpch_q8", "q143_tpch_q17", "q146_tpch_q21",
        "q153_edit_join", "q154_sketch_rollup", "q156_attribution",
        "q158_rfm", "q159_basket", "q161_sliding_distinct",
        "q163_skyline", "q171_table_diff", "q173_auc", "q175_gini",
        "q176_als_round")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
