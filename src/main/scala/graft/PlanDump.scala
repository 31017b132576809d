package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Dev tool: physical plans of registered queries, on the same
  * [[Engine]] session Bench and Verify run. Three modes:
  *
  *  - `headline [outFile] [sfDir]` (the default with no arguments):
  *    the planned shape of every headline query into one markdown
  *    file, committed as PLANS.md — the plan-shape record backing
  *    COVERAGE.md's scale claims. Plans only; no query runs.
  *  - `query <name> [sfDir]`: one query's formatted plan, then its
  *    post-AQE executed plan after a noop run, to stdout.
  *  - `list <outDir> <suffix> <q1,q2,...> [sfDir]`: the same two plans
  *    per query into `<outDir>/<query>_<suffix>.txt` — the before/after
  *    evidence an optimization commits under plans/. AQE join
  *    promotions are what several optimizations change, hence the
  *    post-AQE plan.
  *
  * Usage: tools/run.sh graft.PlanDump [headline|query|list] ...
  */
object PlanDump {
  val headline: Seq[String] = Seq(
    "rel_q1_pricing_summary", "rel_join_star_revenue", "rel_asof_join",
    "rel_interval_join_bucketed", "rel_sort_limit_topk",
    "search_topk_relevance", "search_page_after", "search_topk_tfidf",
    "search_topk_bm25", "search_topk_bm25_indexed", "search_phrase_indexed",
    "llm_ann_pq_topk", "llm_ann_indexed_topk",
    "search_more_like_this", "llm_pack_sequences", "llm_curate_pipeline",
    "search_all_indexes", "llm_cosine_topk", "llm_cosine_topk_batch",
    "llm_dedup_ngram_jaccard", "llm_dedup_simhash",
    "llm_dedup_minhash_banded", "llm_dedup_incremental",
    "llm_decontaminate", "llm_stratified_sample",
    "llm_vocab_topk", "llm_length_trim", "llm_chunk_docs",
    "stream_session_windows", "stream_funnel", "stream_gap_fill",
    "etl_upsert_last_write_wins",
    "rel_agg_pushdown", "sql_recursive_cte", "search_rescore",
    "search_facets_top_hits", "llm_bpe_pair_counts",
    "llm_ngram_lm_quality", "llm_curriculum_shards",
    "llm_dedup_winnow", "llm_ann_sq8_topk", "llm_keyword_extract",
    "llm_dedup_survivors", "search_min_should_match",
    "sql_q19_disjunctive", "sql_q21_waiting_supplier",
    "llm_dedup_substring", "llm_dedup_cdc", "llm_dedup_segments",
    "llm_quality_classifier", "search_collapse_field",
    "search_boosting", "search_matrix_stats", "llm_dsir_weights",
    "llm_gopher_rules", "stream_enrich_static",
    "llm_ngram_novelty", "etl_quality_rules",
    "llm_temperature_mixture", "mm_audio_energy",
    "search_msearch", "search_facets_percentiles",
    "llm_ann_binary_topk", "llm_mmr_rerank", "llm_wordpiece_train",
    "llm_graph_triangles", "rel_join_fuzzy_names", "rel_join_fuzzy_jw",
    "stream_event_pattern", "search_decay_scoring", "llm_hash_embed",
    "llm_cooccurrence", "llm_rouge_pairs", "llm_blocklist_filter",
    "search_phrase_prefix",
    "llm_hll_distinct", "llm_kmv_overlap", "rel_hdr_quantiles",
    "llm_vocab_growth", "search_bucket_pipeline", "search_has_child",
    "search_termvectors", "etl_snapshot_read",
    "llm_hll_native", "search_rank_eval", "search_holt_forecast",
    "search_synonyms", "llm_substring_census", "mm_audio_fingerprint",
    "stream_distinct_users_hll", "etl_snapshot_diff",
    "search_facets_extended_stats",
    "llm_knn_graph", "llm_label_propagation", "llm_triplet_mining",
    "llm_perplexity_buckets", "llm_k_anonymity",
    "search_facets_boxplot", "search_facets_t_test",
    "search_facets_top_metrics", "search_facets_rate",
    "search_pipeline_stats_bucket",
    "search_suggest_term", "search_suggest_phrase", "search_nested_query",
    "search_facets_nested_agg", "search_geo_distance", "search_geohash_grid",
    "search_geo_polygon", "search_runtime_field",
    "search_regexp", "search_span_containing", "search_span_within",
    "search_geo_shape", "search_scripted_metric", "search_common_terms",
    "llm_unigram_train",
    "search_match_bool_prefix", "search_combined_fields",
    "search_geotile_grid", "search_geo_distance_indexed",
    "sql_q2_min_cost_supplier", "sql_q20_excess_stock",
    "search_holt_winters",
    "search_mget", "search_moving_fn_scripted",
    "search_facets_cardinality", "rel_approx_agg")

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: String) = if (args.length > i) args(i) else default
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    arg(0, "headline") match {
      case "headline" => dumpHeadline(spark, arg(1, "PLANS.md"), arg(2, "/root/testdata/sf0.001"))
      case "query" => println(executed(spark, args(1), arg(2, "/root/testdata/sf0.001"))._1)
      case "list" =>
        val (outDir, suffix, sfDir) = (args(1), args(2), arg(4, "/root/testdata/sf0.1"))
        Files.createDirectories(Paths.get(outDir))
        args(3).split(",").foreach { name =>
          val (txt, secs) = executed(spark, name, sfDir)
          val file = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.writeString(file, s"== $name ($suffix, $sfDir, noop ${f"$secs%.2f"} s) ==\n\n" + txt)
          println(f"[plandump] $name%-40s $secs%6.2f s -> $file")
        }
      case other => sys.error(s"unknown mode '$other': expected headline, query or list")
    }
    spark.stop()
  }

  /** Formatted initial plan + post-AQE executed plan after a noop run,
    * and the run's seconds.
    */
  private def executed(spark: SparkSession, name: String, sfDir: String): (String, Double) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val formatted = df.queryExecution.explainString(FormattedMode)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val txt = formatted + "\n\n== post-AQE executed plan ==\n\n" +
      df.queryExecution.executedPlan.toString
    Pins.release(spark)
    (txt, secs)
  }

  private def dumpHeadline(spark: SparkSession, out: String, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump headline` at ${Paths.get(sfDir).getFileName} on the Engine session\n")
    sb.append(s"(${spark.sparkContext.defaultParallelism} cores; plan shapes are scale-invariant,\n")
    sb.append("AQE may further split/coalesce at runtime).\n")
    headline.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n```\n")
      sb.append(plan.take(8000))
      if (plan.length > 8000) {
        // Keep the scan evidence (PushedFilters / PartitionFilters /
        // ReadSchema) visible even when the middle is truncated.
        sb.append("\n... (truncated; every scan in the plan follows)\n")
        plan.linesIterator.filter(_.contains("FileScan"))
          .foreach(l => sb.append(l.trim.take(700)).append('\n'))
      }
      sb.append("\n```\n")
      Pins.release(spark)
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
  }
}
