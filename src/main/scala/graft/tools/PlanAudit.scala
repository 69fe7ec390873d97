package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Plan-shape dossier generator (PLANS.md): for a set of headline
  * queries, extract the physical-plan facts that matter at 100 TB —
  * exchange count, broadcast-join usage, whole-stage-codegen span
  * count, TakeOrdered presence, scan column widths (pruning) and
  * pushed filters. AQE is disabled for the audit so the static plan
  * carries its WholeStageCodegen span markers (*(n)) — the committed
  * shape; AQE can only improve it at runtime. Output is WRITTEN
  * DIRECTLY to the dossier file (arg 0, default PLANS.md) — r14
  * hygiene: the old stdout-pipe regeneration let sbt-prefixed stderr
  * WARN lines leak into the committed markdown once; writing the
  * file from inside the JVM makes that impossible by construction.
  * Regenerate with:
  *   sbt -batch "runMain graft.tools.PlanAudit"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "250")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = Seq(
      // reference-shaped core
      "q_pricing_summary", "q_scan_filter", "q_month_agg",
      "q_join_region_revenue", "q_topk_customers", "q_grid_fill",
      // join/layout levers
      "q_salted_join", "q_asof_join", "q_range_join",
      "q_bloom_prune_revenue",
      // llm pipeline heavies
      "q_dedup_docs", "q_minhash_clusters", "q_similarity_join",
      "q_token_budget", "q_bpe_fertility", "q_dsir_select",
      // round-8 additions
      "q_sessionize", "q_funnel", "q_retention", "q_pii_mask",
      "q_weighted_take", "q_quality_rules", "q_pagerank",
      "q_accent_fold",
      // round-9 additions
      "q_market_share", "q_product_profit", "q_avg_yearly",
      "q_large_orders", "q_idle_customers", "q_cust_distribution",
      "q_event_transitions", "q_scd2_history", "q_scd2_merge",
      "q_mad_outliers", "q_chi2_assoc", "q_value_trend",
      "q_value_histogram", "q_depth_histogram", "q_winsorized_stats",
      "q_fuzzy_pairs", "q_table_profile", "q_peak_concurrency",
      "q_pca_knn",
      // round-9 late batch
      "q_ks_drift", "q_ab_ttest", "q_overlap_gate", "q_basket_lift",
      "q_funnel_latency", "q_agg_merge", "q_top_paths",
      "q_seasonal_baseline", "q_source_entropy", "q_conversion_ci",
      "q_benford", "q_top_share", "q_acf", "q_mutual_info",
      "q_zipf_fit", "q_triangle_count", "q_attribution",
      "q_pareto_class", "q_period_over_period", "q_cusum_shift",
      "q_rolling_active", "q_table_diff", "q_late_orders",
      "q_blame_supplier", "q_dedup_profile", "q_ngram_novelty",
      "q_kaplan_meier", "q_qq_drift",
      // TPC-H suite completion + F2 UDAF graded exercise
      "q_topk_per_group", "q_volume_shipping", "q_returned_items",
      "q_top_supplier", "q_disjunctive_revenue", "q_priority_split",
      "q_join_cardinality", "q_join_blowup", "q_label_prop",
      "q_ewma", "q_rank_suite", "q_auc", "q_pr_curve", "q_calibration", "q_holt", "q_gains", "q_distinctive_terms", "q_day_allocation", "q_frequent_triples", "q_cuped", "q_entity_resolution", "q_nelson_aalen", "q_seasonal_decompose",
      // round-9 continuation: classical analytics + trend + graph
      "q_theil_sen", "q_mann_kendall", "q_price_elasticity",
      "q_demand_classes", "q_rfm_segments", "q_interarrival",
      "q_cohort_ltv", "q_ohlc_bars", "q_forecast_eval",
      "q_weighted_median", "q_kcore", "q_seasonal_outliers",
      "q_lead_lag", "q_holt_winters", "q_bfs_hops", "q_dedup_survivor",
      "q_ndcg",
      // round-9 continuation: overlap eval, sketch, streaks, phrases
      "q_rouge_bigram", "q_bleu", "q_theta_sketch_gate",
      "q_activity_streaks", "q_compress_ratio", "q_pmi_collocations",
      "q_sssp", "q_bootstrap_ci", "q_top_other", "q_twap",
      // round-9 batches 7-14: stats, linkage, geo, privacy, features
      "q_anova", "q_fdr_screen", "q_jw_pairs", "q_geo_radius",
      "q_flesch", "q_dtw_types", "q_normal_scores", "q_policy_value",
      "q_map_k", "q_hilbert_gate", "q_interval_overlap",
      "q_clustering_coeff", "q_naive_bayes", "q_k_anonymity",
      "q_dp_counts", "q_markov_attrib", "q_grid_dbscan", "q_conformal",
      "q_target_encode", "q_woe_iv", "q_wordpiece_fertility",
      "q_business_days", "q_decayed_counts", "q_fifo_match",
      // round-10: survival family, attribution, causal, clustering
      "q_log_rank", "q_rmst", "q_cox_ph", "q_multi_touch",
      "q_diff_in_diff", "q_kmeans", "q_competing_risks", "q_pacf",
      // round-11: HTML->text codegen kernel + metadata companion
      "q_html_extract", "q_html_meta",
      // round-12: outlink/URL kernels, the end-to-end corpus plan,
      // the WARC reader and the crawl-frontier composition
      "q_html_links", "q_url_canon", "q_corpus_e2e",
      "q_warc_extract", "q_outlink_hosts", "q_robots_gate",
      "q_sitemap_locs",
      // round-13: RFC 3986 resolution, charset decode, WARC-path
      // sitemaps, the politeness-loop composition, EXIF
      "q_resolve_url", "q_decode_body", "q_sitemap_warc",
      "q_frontier", "q_exif_meta",
      // round-13 late batch: wire-encoding, digest dedup,
      // boilerplate removal
      "q_warc_gzip_body", "q_warc_digest_dedup", "q_main_text",
      "q_robots_sitemaps", "q_warc_chunked",
      // round-14: file front door, <base href>, BOM decode, revisit
      "q_warc_files", "q_outlink_base", "q_decode_bom",
      "q_warc_revisit", "q_surt_key", "q_warc_cdx",
      "q_warc_fetch_pairs", "q_warc_redirects", "q_anchor_text",
      "q_sniff_mime",
      // round-14 capstone: the archive write happens at dataframe
      // CONSTRUCTION (bounded foreachPartition), so the audited plan
      // is the read+route half -- which is the claim: map-only after
      // the file scan
      "q_archive_e2e",
      // round-14 continuation: recrawl scheduling, cache semantics,
      // WET export (audited plan = conversion-read half, like
      // q_archive_e2e), pub-date, trap + mojibake audits
      "q_recrawl_schedule", "q_cache_headers", "q_wet_export",
      "q_pub_date", "q_crawl_traps", "q_mojibake",
      // round-14 continuation: digest integrity + the fetch-side
      // capstone (archive history -> refetch decision, one plan)
      "q_digest_verify", "q_fetch_plan")

    val outFile = if (args.nonEmpty) args(0) else "PLANS.md"
    val sb = new StringBuilder
    def println(s: String = ""): Unit = { sb.append(s).append('\n'); () }

    println("# Physical-plan dossier (sf0.01, AQE disabled for the audit)")
    println()
    println("Generated by `tools/PlanAudit`. Columns: shuffle Exchange count,")
    println("broadcast-exchange count, WholeStageCodegen span count, TakeOrdered")
    println("used, per-scan ReadSchema column widths, any PushedFilters present.")
    println("AQE is off so codegen spans are visible in the static plan; at run")
    println("time AQE only re-plans in the engine's favor (skew splits, bcast")
    println("promotion). Iterative operators (q_pagerank) plan per-round frames")
    println("eagerly, so their one-shot plan shows the final assembly only;")
    println("bounded-collect operators (q_markov_attrib, q_cox_ph) run their")
    println("grid aggregation at construction time, so the audited plan is the")
    println("final scalar assembly -- the distributed work is in the collect.")
    println()
    println("| query | exch | bcast | wscg | takeOrdered | scan widths | pushed |")
    println("|---|---|---|---|---|---|---|")
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val p = df.queryExecution.executedPlan.toString
        val exch = "Exchange (hash|range)partitioning".r.findAllIn(p).size
        val bcast = "BroadcastExchange".r.findAllIn(p).size
        val wscg = "\\*\\(([0-9]+)\\)".r.findAllMatchIn(p)
          .map(_.group(1)).toSet.size
        val tops = if (p.contains("TakeOrderedAndProject")) "yes" else "-"
        val widths = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(p)
          .map(m => if (m.group(1).isEmpty) 0
            else m.group(1).split(",").length)
          .toSeq
        val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
          .findAllMatchIn(p).map(_.group(1).trim)
          .count(_.nonEmpty)
        val w = if (widths.isEmpty) "-"
          else widths.groupBy(identity).toSeq.sortBy(_._1)
            .map { case (k, vs) => if (vs.size == 1) s"$k" else s"${k}x${vs.size}" }
            .mkString(",")
        println(s"| $n | $exch | $bcast | $wscg | $tops | $w | " +
          s"${if (pushed > 0) s"$pushed scans" else "-"} |")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"| $n | plan error: ${e.getMessage} |")
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), sb.toString)
    Predef.println(s"[planaudit] wrote $outFile (${names.size} queries)")
    spark.stop()
  }
}
