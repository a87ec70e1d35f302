package graft.tools

import graft.SparkEntry

/** Writes the formatted physical plans of the headline queries to
  * PLANS.md — the ".explain and iterate" evidence trail: per query, the
  * shuffle/broadcast/codegen structure that must survive a 100x scale-up.
  *
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir] [outFile]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
      "q6_forecast_revenue", "q18_large_volume_customer",
      "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
      "win_topk_per_group", "llm_dedup_ngram_jaccard", "llm_knn_brute",
      "agg_mixed_distinct", "ev_sessionize",
      "src_bucketed_join", "ev_view_click_attribution",
      "join_asof", "join_range_binned",
      "join_spatial_contains", "join_spatial_intersects", "join_spatial_polygon",
      "join_spatial_polygon_holes", "join_spatial_kdb", "join_geo_tile",
      "agg_convex_hull", "llm_decontam_bloom", "llm_tfidf",
      "ds_rollup_topk", "ds_ticket_band", "ds_channel_union",
      "ds_reachability_semi", "ds_frequent_items", "ds_channel_intersect",
      "ds_wide_rollup_rank", "ds_cross_channel_cte", "ds_inventory_gap",
      "agg_histogram", "src_local_file_log",
      "llm_mixture_sample", "llm_token_budget_select",
      "ds_yoy_growth", "llm_kmeans_cluster", "llm_cluster_semdedup",
      "llm_importance_resample", "llm_quality_gopher", "llm_html_extract",
      "mm_image_dedup", "ev_session_window",
      "ds_multi_band_scan", "llm_inverted_index",
      "llm_dedup_substring_spans", "llm_dedup_paragraph",
      "ds_frequent_buyers", "llm_c4_clean", "llm_knn_sq8",
      "ds_order_returns", "llm_triangle_count", "mm_scene_cut",
      "llm_phrase_search", "llm_bigram_lm", "llm_dedup_containment",
      "llm_ccnet_buckets", "llm_pagerank", "mm_image_dedup_perceptual",
      "llm_hybrid_retrieval_rrf", "mm_video_dedup",
      "llm_blocklist_filter", "llm_char_entropy", "llm_ngram_novelty",
      "llm_quality_classifier",
      "llm_pmi_collocations", "llm_pca_power",
      "llm_dedup_sorted_neighborhood", "llm_knn_ivfpq",
      "llm_train_val_split")
    // Ids, lambda and object names and paths change from run to run;
    // canonical plans make a rerun at the same commit byte-identical.
    def formatted(df: org.apache.spark.sql.DataFrame): String = PlanDeterminism.canon(
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)).take(8000)
    val spark = graft.engine.Engine.session(s"local[${graft.engine.Engine.cores}]")
    graft.engine.Engine.registerTables(spark, sfDir)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated from `$sfDir` by `graft.tools.PlanDump`. The shapes to\n")
    sb.append("check at scale: filters/pruning reach the `FileScan` (PushedFilters/\n")
    sb.append("ReadSchema), dimensions broadcast (`BroadcastHashJoin`), fact-fact\n")
    sb.append("joins hash-partition once, aggregates split partial/final around one\n")
    sb.append("exchange, and pipelines stay inside `WholeStageCodegen` spans.\n")
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        sb.append(s"\n## $name\n\n```\n${formatted(fn(spark, sfDir))}\n```\n")
      }
    }

    // Driver-side iterative queries return a localCheckpoint scan, so
    // their headline dumps above show only an ExistingRDD; the plans
    // that carry the scale claims are the INTERNAL per-pass plans —
    // dumped here from the same builders the queries run.
    def section(title: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n${formatted(df)}\n```\n")
    }
    {
      import org.apache.spark.sql.functions._
      val scored = graft.llm.CurationQueries.ccnetScored(spark)
      section("llm_ccnet_buckets — scoring plan (pre-checkpoint)",
        "The corpus-sized plan the bisect probes run over: partial/final " +
          "aggregates around keyed exchanges only — no single-partition " +
          "exchange, no global sort, no corpus-sized limit.", scored)
      section("llm_ccnet_buckets — one 16-ary bisect probe pass",
        "One of the ~6 threshold-selection passes: 30 conditional counts " +
          "in a single partial/final aggregate over the cached scores.",
        scored.agg(
          count(when(col("surprise") <= 0.5, 1)),
          (1 until 30).map(i => count(when(col("surprise") <= i * 0.1, 1))): _*))
      val (nodes, edges) = graft.llm.CurationQueries.pagerankGraph(spark)
      try {
        val r0 = nodes.select(col("doc_id"), expr("1000000000000 div n").as("r"))
        section("llm_pagerank — one iteration",
          "Edges are persisted pre-partitioned on src (InMemoryTableScan " +
            "keeps the layout): the rank side broadcasts at this SF (AQE) " +
            "or exchanges to the edge layout at scale — the edge set " +
            "itself never re-shuffles for the join; the dst-keyed " +
            "contribution aggregate is the round's single edge-wide " +
            "exchange.",
          graft.llm.CurationQueries.pagerankRound(nodes, edges, r0))
      } finally { edges.unpersist(); nodes.unpersist() }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
