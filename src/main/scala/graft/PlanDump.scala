package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan dumps (`explain("formatted")`).
  *
  *   - `PlanDump <sfDir>` writes PLANS.md for the headline queries —
  *     the artifact backing the scale-design claims (pushdown, pruning,
  *     broadcast, partial agg), regenerated at sf0.001.
  *   - `PlanDump <sfDir> <outDir> <tag> q1,q2,...` writes each named
  *     query's plan to `<outDir>/<name>_<tag>.txt` — before/after
  *     artifacts for an optimization (committed under plans/).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // fixed 4 cores: the committed dumps pin plans at 4 shuffle partitions
    val spark = Harness.session(4)
    args match {
      case Array(dir) => plansMd(spark, dir)
      case Array(dir, outDir, tag, names) => dumpSome(spark, dir, outDir, tag, names)
      case _ => System.err.println(
        "usage: PlanDump <sfDir> [<outDir> <tag> q1,q2,...]")
    }
    spark.stop()
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def dumpSome(spark: SparkSession, dir: String, outDir: String,
                       tag: String, names: String): Unit = {
    new java.io.File(outDir).mkdirs()
    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      // special probe: graph_build is a timed bench entry but not a
      // registry query, and its returned frame is a checkpointed
      // LogicalRDD (plan-opaque) — dump the pair-count subplan, the
      // build's dominant cost, via the Relational hook instead.
      val df = if (name == "@graph_build")
        graft.queries.Relational.graphBuildPairsPlan(spark, dir)
      else SparkEntry.queries(name)(spark, dir)
      val outName = if (name == "@graph_build") "graph_build" else name
      Files.writeString(Paths.get(s"$outDir/${outName}_$tag.txt"), formatted(df))
      println(s"wrote $outDir/${outName}_$tag.txt")
    }
  }

  private def plansMd(spark: SparkSession, dir: String): Unit = {
    val headline = Seq(
      "agg_pricing", "broadcast_dim", "join_denorm", "semi_join",
      "window_quota", "kg_search", "dedup_minhash", "sim_topk", "ts_slope",
      // round 2: scale-fix + curation plans
      "rule_rowslice", "dedup_embedding", "ts_trend_dots",
      "extract_tables", "pipeline_clean", "contamination",
      // round 3: digest-keyed dedup, capped jaccard, real media paths,
      // BM25/IVF/LM-scoring topologies
      "dedup_exact", "dedup_jaccard", "media_decode", "media_video",
      "kg_bm25", "sim_ivf", "text_perplexity",
      // round 3 (cont.): semantic dedup + native top-n-gram panel +
      // histogram-scan exact percentiles + training-prep dedups +
      // bounded-mode sessionization + BPE pretokenizer stats
      "dedup_semantic", "text_gopher", "pipeline_stats",
      "dedup_lines", "dedup_substring", "stream_sessions", "text_bpe",
      // round 3 (cont.): PQ ADC compressed-scan ANN + the web-corpus
      // filter gates (Gopher rule panel, UT1-style suffix blocklist)
      "sim_pq", "filter_gopher", "filter_url",
      // round 3 (cont.): IVFADC (cells + residual PQ), C4 cleaning
      // panel, hashed linear classifier gate
      "sim_ivfpq", "filter_c4", "filter_classifier", "text_readability",
      "pipeline_funnel", "ts_asof", "ts_asof_fwd",
      // round 4: trained quantizers (same literal-map plans as seeded),
      // streaming as-of in bounded mode, certified fixed-break solver
      "sim_ivf_t", "sim_pq_t", "sim_ivfpq_t", "stream_asof",
      "ts_trend_fixed", "ts_range_join", "stream_range_join",
      "text_bpe_train",
      // round 4 (cont.): dedup cluster assembly, interval-overlap join,
      // SCD2 single-shuffle window pair, full BPE encode
      "dedup_cluster", "ts_interval_overlap", "scd2_build",
      "text_bpe_encode",
      // round 4 (cont.): deterministic sketch suite (HLL, CMS, Bloom)
      // + range-frame rolling
      "approx_distinct_hll", "sketch_cms", "bloom_semi_join",
      "ts_rolling",
      // round 4 (cont.): streaming HLL, CDC apply, deterministic shuffle,
      // HLL merge, z-order clustering key
      "stream_hll", "cdc_apply", "pipeline_shuffle",
      "sketch_hll_merge", "layout_zorder",
      // round 4 (cont.): streaming CDC, end-to-end dedup survivors,
      // funnel/cohort analytics, integer PageRank
      "stream_cdc", "dedup_survivors",
      "funnel_conversion", "cohort_retention", "graph_pagerank",
      // round 4 (cont.): snapshot diff, exact-k stratified sample,
      // data-quality report, HLL set intersection
      "snapshot_diff", "pipeline_sample",
      "dq_report", "sketch_hll_intersect",
      // round 4 (cont.): entity resolution (blocked + sorted-neighborhood)
      "er_match", "er_sorted_neighborhood",
      // round 4 (cont.): throttle/percentiles/streaks/MAD window analytics
      "ts_throttle", "ts_percentiles", "ts_streaks", "ts_mad",
      // round 4 (cont.): basket rules, histogram, Markov transitions
      "basket_pairs", "ts_histogram", "graph_transitions",
      // round 4 (cont.): graph analytics (triangles/BFS/ER-cluster),
      // exact KS, feature-engineering suite, PMI, LSH recall eval
      "graph_triangles", "graph_bfs", "er_cluster", "stats_ks",
      "pivot_events", "encode_target", "encode_binning", "encode_winsorize",
      "text_pmi", "dedup_eval",
      // round 4 (cont.): label propagation + modularity, skyline,
      // CUSUM, recommender cosine, Benford, vocab, RFM, seasonality,
      // attribution, tumbling windows, ABC classification
      "graph_labelprop", "graph_modularity", "skyline_parts", "ts_cusum",
      "rec_cosine", "stats_benford", "text_vocab", "rfm_scores",
      "ts_seasonal", "ts_attribution", "stream_tumbling", "abc_parts",
      // round 5: let-bound pairwise Theil-Sen, Bellman-Ford SSSP
      "ts_theilsen", "graph_sssp",
      // round 5 (cont.): rank stats over grouped two-level cumulatives,
      // HITS/PPR/SCC/betweenness/closeness, native Jaro-Winkler ER,
      // sample-quantile sketch, MMR re-rank, Hilbert layout, radius
      // search, exact DAU/WAU, OLS, eval suite, suggest/MLT retrieval
      "stats_spearman", "stats_kendall", "graph_hits", "graph_ppr",
      "graph_scc", "graph_betweenness", "graph_closeness",
      "er_jarowinkler", "sketch_quantile", "sim_mmr", "sim_range",
      "layout_hilbert", "reshape_unpivot", "text_hash_features",
      "ts_wau", "ts_forecast", "stats_ols", "stats_kruskal",
      "graph_assortativity", "stream_dedup", "dq_kanon",
      "media_audio_features", "eval_auc", "eval_confusion",
      "eval_calibration", "kg_suggest", "kg_mlt", "stats_runs",
      "rec_jaccard",
      // round 5 (cont.): fusion retrieval, budget allocator, IVM,
      // erasure audit, blocking eval, graph profile, streaming DAU
      "kg_hybrid", "pipeline_budget", "agg_incremental", "dq_erasure",
      "er_blocking_eval", "graph_reciprocity", "graph_summary",
      "stream_dau", "ts_backtest",
      // round 9: the flattened Markov attribution (per-round
      // checkpoint + broadcast-hinted alphabet tail) and the
      // experimentation plane (single-agg power/DiD shapes)
      "attribution_markov", "eval_power", "eval_did", "ml_boost_deep",
      // round 10: retrieval depth (field-weighted BM25F, RM3 weighted
      // re-run, windowless hybrid re-rank) and the ANN quality plane
      "kg_bm25f", "kg_rm3", "sim_recall_sweep", "sim_pq_error",
      // round 10 session 2: the LM-retrieval counterpart (Dirichlet
      // QLD), Moore–Lewis cross-entropy data selection (the
      // token-onto-vocab LM-scoring topology + ordered per-doc fold),
      // DSIR hashed importance resampling (broadcast-sized bucket
      // LMs), and the three-ranker trec_eval-style report
      "kg_qld", "pipeline_moore_lewis", "pipeline_dsir",
      "kg_ranker_eval",
      // per-lang BPE fertility (narrow replace-fold) and the
      // two-phase quality-annealed token schedule
      "text_fertility", "pipeline_anneal",
      // round-11: the end-to-end structured query (search legs behind
      // the checkpointed hit set), ranker tau agreement, token-level
      // Rho-1-style selection, truncation-energy report, pass@k, and
      // Bradley-Terry strengths
      "kg_coarse", "kg_tau", "pipeline_rho", "sim_mrl", "eval_passk",
      "eval_bt")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append("Generated by `graft.PlanDump` (explain formatted, sf0.001).\n")
    sb.append("What to look for: `PushedFilters`/pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` for dimensions, paired partial/final\n")
    sb.append("`HashAggregate`, `TakeOrderedAndProject` for top-k.\n\n")
    headline.foreach { name =>
      val plan = formatted(SparkEntry.queries(name)(spark, dir))
      sb.append(s"## $name\n\n```\n$plan```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} queries)")
  }
}
