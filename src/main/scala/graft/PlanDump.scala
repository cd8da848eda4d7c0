package graft

import java.nio.file.{Files, Paths}

/** Plan-review utility: dumps the formatted physical plan of the headline
  * queries to PLANS.md so plan shape changes show up in review diffs
  * (PushedFilters, broadcast vs shuffle joins, codegen spans, exchange
  * counts). Usage: `sbt "runMain graft.PlanDump <sfDir> <outFile>"`. */
object PlanDump {
  val headline: Seq[String] = Seq(
    "c1_scan_project", "c3_broadcast_join", "c4_shuffle_join", "c4_salted_join",
    "c7_range_bin_join", "c8_asof_join", "c8_asof_rewrite",
    "b1_latest_on_rewrite",
    "c9_tpch_q1", "c12_window_funcs", "c13_topk", "c16_sliding_window",
    "c17_minhash_lsh", "c17_embedding_neardup_lsh", "c18_knn_agg",
    "c18_ann_ivf", "pipeline_curate", "b2_hourly_trend",
    "c10_heavy_hitters", "b2_trend_gapfill", "b2_trend_interpolate", "pipeline_pack", "c9_funnel",
    "c4_tpch_q3", "c3_tpch_q5", "c9_retention_cohort", "pipeline_mix_balance",
    "c17_span_dedup", "c17_semantic_dedup", "c18_radius_search",
    "c7_interval_bin_join", "c12_gaps_islands", "c8_asof_forward",
    "pipeline_curate_v2", "c17_text_embed_neardup", "c9_exact_moments",
    "pipeline_adaptive_length_gate", "c8_splice_join", "c5_lateral_topk",
    "c14_recursive_cte", "c1_zorder_cluster", "pipeline_winsorize",
    "c18_ann_ivfpq", "c19_tfidf_topterms", "c19_word_entropy",
    "c19_nb_classifier", "b2_ewma", "b2_anomaly_zscore",
    "b2_ohlc", "b2_twap", "b2_gap_detect", "c9_histogram",
    "c10_type_overlap", "c12_event_sequences", "c14_pagerank",
    "c8_asof_tolerance", "c15_map_funcs",
    "c17_editdist_join", "c17_passage_dedup", "c17_containment",
    "c12_rolling_median", "mm_feature_vec",
    "pipeline_domain_stats", "pipeline_mojibake_clean", "pipeline_url_canonicalize",
    "c19_zipf_slope", "mm_brightness_sig", "c14_triangle_count",
    "c4_hot_salted_join", "c4_hot_salted_agg", "c18_ann_lsh_md5",
    "c18_ann_ivf_md5", "c18_ann_ivfpq_md5", "c17_semantic_dedup_md5",
    "c17_text_embed_neardup_md5", "c19_bpe_train",
    // round 17: the persisted-index/layout query paths — the dumps pin
    // the stored-artifact read shapes (cell-pruned code scan; bucketed
    // edge/rank scans feed the iterations, whose zero-Exchange step plan
    // is asserted in PageRankLayoutSpec/AnnIndexSpec)
    "c18_ann_ivfpq_from_index", "c14_pagerank_from_layout")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = LocalSession.builder("8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` over `$sfDir`. Regenerate after\n")
    sb.append("plan-affecting changes and review the diff: pushed filters,\n")
    sb.append("join strategies, exchange counts, codegen spans.\n")
    headline.foreach { name =>
      val df = Registry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
