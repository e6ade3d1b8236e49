package graft

/** Plan-audit main: prints `explain("formatted")` for the named operators
  * (or a default headline set) so shuffle/broadcast/pushdown shape can be
  * reviewed. `runMain graft.Explain [sfDir] [op,op,...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).headOption
      .map(_.split(",").toSeq)
      .getOrElse(Seq("rollup_multi", "rollup_redispatch", "q3_shipping", "q5_region",
        "ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf", "ann_ivf_trained",
        "ann_ivf_balanced", "kmeans_step", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_embedding_cosine", "dedup_cluster",
        "peer_rebalance", "peer_reload", "metric_fetch", "sessionize", "index_build",
        "sketch_occupancy", "store_lifecycle", "runtime_stats",
        "carbon_reassemble", "peer_forward", "pq_encode", "ann_pq", "vocab_build",
        "bpe_encode", "value_quantiles_sketch", "cardinality_sketch",
        "token_surprisal", "decontaminate_bloom", "heavy_hitters_sketch",
        "chunk_documents", "boilerplate_share", "text_tfidf",
        "mix_rebalance", "ann_ivfpq",
        "series_nonneg_derivative", "series_integral", "series_top",
        "series_fill", "series_anomaly", "dedup_semantic",
        "dedup_exact_substring",
        "series_summarize", "series_percentile", "series_aspercent", "series_stddev",
        "vocab_coverage", "knn_mutual", "knn_components", "cluster_purity",
        "perplexity_filter",
        "series_moving_median", "series_ewma", "series_timeshift",
        "mix_temperature", "embed_hashing", "funnel_steps", "cohort_retention",
        "knn_pagerank", "text_knn", "event_attribution", "series_holt_forecast",
        "user_rfm",
        "series_linreg", "series_remove_outliers", "series_hitcount",
        "quality_select", "chunk_knn", "series_holt_deviation",
        "multimodal_phash", "engagement",
        "knn_graph_ivf", "knn_graph_recall", "chunk_ann",
        "ann_ivf_stored", "multimodal_decode_real",
        "ann_ivf_stored_live", "ann_ivfpq_stored", "chunk_ann_stored"))
    // unknown names fail before the session starts; plans print in `names` order
    val byName = Registry.select(names.toSet).map(o => o.name -> o).toMap
    val spark = Harness.session(4, "graft-explain")
    // -Dgraft.explain.exec=true: EXECUTE each query first and print the
    // AQE FINAL plan (isFinalPlan=true) — the only view that shows
    // runtime exchange reuse (`ReusedExchange` / stage-cache dedup of
    // identical subtrees), which the pre-execution plan hides. Output
    // frames here are small (top-k / audit rows), so the driving
    // collect is cheap.
    val exec = sys.props.get("graft.explain.exec").contains("true")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      val df = byName(n).run(spark, sfDir)
      if (exec) {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
