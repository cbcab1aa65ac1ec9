package graft

import java.nio.file.{Files, Paths}

/** Plan audit: dumps `explain("formatted")` for representative queries to
  * EXPLAIN.md plus a one-line shuffle/scan audit per query, so plan
  * regressions (extra Exchanges, lost pushdown, broken WholeStageCodegen)
  * are reviewable in the repo.
  *
  * Run: `sbt "runMain graft.Explain [sfDir]"`.
  */
object Explain {
  val headline = Seq(
    "bars_rebar", "dashboard_cascade", "s11_top100", "a3_latest_snapshot",
    "d2_minhash_lsh", "d4_ngram_jaccard", "d6_jaccard_dfcap",
    "d9_decontaminate", "d10_incremental",
    "e2_knn_brute", "e3_knn_ivf",
    "j1_star_broadcast", "j2_bigjoin_smj", "j3_semi_anti", "j4_salted_skew",
    "j5_tpch_q3", "j6_tpch_q5", "j7_dpp",
    "a8_asof_join", "a11_range_join", "a9_cube", "a10_quantiles",
    "e5_knn_ivf_nprobe2", "e7_quantize_int8", "x_keep_pipeline",
    "w10_vwap", "t5_backtest", "a12_rebar5", "m4_chunk_plan",
    "x_tokens", "m1_media_features", "f1_fundamentals_flat",
    "e4_srp_lsh", "e8_pq", "e9_kmeans_step",
    "x_pack", "x_bm25", "x_zipf", "a13_grouping_sets", "x_winnow",
    "x_pii", "a14_gapfill", "e10_adc", "e4w_srp_wide", "dec_pipeline", "w11_bollinger_outlier",
    "a15_funnel", "a16_retention", "x_scd2", "x_semdedup",
    "x_copurchase", "x_triangles", "x_scd2_probe",
    "x_cdc_merge", "a17_attribution", "a18_cum_uniques",
    "x_bpe_pairs", "x_lm_df", "x_histogram",
    "j8_tpch_q17", "a19_rank_family", "x_pagerank_step", "x_vocab_unk", "x_pagerank3", "x_chunk_text",
    "a20_asof_exec", "a20b_asof_left", "j9_tpch_q21", "j10_tpch_q22",
    "a21_paths", "a22_hopping", "a23_topk_group", "a24_rfm", "a25_reset_cumsum",
    "a26_mode", "x_profile",
    "e11_ivf_adc", "e1_cosine_neardup", "x_pagerank_full",
    "dashboard_cascade_scan", "e12_kmeans_full", "x_unigram_nll", "x_dsir",
    "x_substr_dedup", "x_kcore", "x_curation_pipeline",
    "e13_index_serve", "m2_frame_sample",
    "x_heavy_hitters", "x_classifier_score", "m5_audio_features",
    "x_bpe_train",
    "w12_atr", "w13_stochastic", "w14_obv", "w15_drawdown",
    "w16_pair_corr", "w17_ichimoku", "d12_containment",
    "d13_cluster_stats", "e14_range_search",
    "x_ngram_novelty", "x_bpe_encode", "x_pca_power", "t6_pairs_zscore",
    // round 11
    "w16r_pair_corr_sel", "w17_ichimoku_scan", "e14b_range_index",
    // round 12
    "t6r_pairs_zscore_sel", "x_perceptron_train", "x_semdedup_sqrtk",
    "j2b_bigjoin_bucketed",
    // round 14
    "a20c_asof_bucketed", "j8b_tpch_q17_bucketed")

  /** Queries whose semantics become APPROXIMATE past a size tier (the
    * round-15 advice: the oracle dispatches on the same constants, so
    * the in-band gate can't flag it — the docs must). Measured recall
    * numbers live in SCALING.md and `tools/Recall`. */
  val approximate: Map[String, String] = {
    val winnow = "past PairGateMinDocs (100k docs) the pair list is " +
      "winnow-fingerprint-gated (MOSS) with exact full-shingle verify — " +
      "measured 97.3% pair recall at data/sf10 (tools.Recall floor 0.95)"
    Map(
      "d4_ngram_jaccard" -> winnow,
      "d6_jaccard_dfcap" -> ("past PairGateMinDocs the inverted-index df " +
        "cap drops 50 → DfCapLarge=8 (gate-recall trade measured by " +
        "tools.Recall; exact verify unchanged)"),
      "d12_containment" -> winnow,
      "x_keep_pipeline" -> winnow,
      "x_curation_pipeline" -> winnow,
      "e11_ivf_adc" -> ("past PqArmMaxRows (20k vectors) retrieval is " +
        "IVF-ADC with Lloyd-trained coarse codebook — recall@3 = 1.000 " +
        "at data/sf10, tools.Recall floor 0.85"),
      "e13_index_serve" -> ("served from the persisted IVF-PQ index " +
        "(same trained-arm geometry as e11; tools.Recall floor 0.85)"),
      "x_semdedup" -> ("past PqArmMaxRows clusters come from the " +
        "sqrt(n)-codeword codebook (oracle dispatches on the same " +
        "constant; cell-exact at data/sf10)"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4, sfDir)
    // AQE stays ON for real runs; the audit disables it so the static
    // plan shows WholeStageCodegen spans and the true Exchange structure
    // instead of an opaque AdaptiveSparkPlan wrapper.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val sb = new StringBuilder
    sb.append("# EXPLAIN — physical plan audit\n\n")
    sb.append(s"Generated by `graft.Explain` over `$sfDir`. Shuffle count is\n")
    sb.append("`Exchange` operators in the final plan (AQE may coalesce at runtime).\n")
    sb.append("Queries that materialize an intermediate (localCheckpoint /\n")
    sb.append("driver-side stats collect) truncate the final plan's lineage, so\n")
    sb.append("their build-time executions are audited as `[staged N]` sub-rows —\n")
    sb.append("captured via QueryExecutionListener while the query was constructed\n")
    sb.append("(round-16: the d12 row used to read `0 scans` because the audit\n")
    sb.append("could only see the post-checkpoint plan).\n\n")

    val audit = new StringBuilder
    audit.append("| query | exchanges | sorts | wscg spans | scans |\n")
    audit.append("|---|---|---|---|---|\n")

    // build-time executions (eager localCheckpoint, driver-side stats
    // collects) fire QueryExecutionListener events; collect them so the
    // audit can show the REAL scan/shuffle shape of staged queries
    val stagedPlans =
      new java.util.concurrent.ConcurrentLinkedQueue[
        (String, org.apache.spark.sql.execution.QueryExecution)]
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = stagedPlans.add((funcName, qe))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    headline.foreach { name =>
      // an earlier query's cache() would substitute InMemoryRelation into
      // any later plan that equals the cached subtree — audit the real
      // scan pipelines, not cache hits
      spark.catalog.clearCache()
      stagedPlans.clear()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // listener delivery is async on the shared bus; build-time jobs
      // themselves ran synchronously inside the builder, so a short
      // settle is enough for their events to drain
      Thread.sleep(300)
      val formatted = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

      def row(label: String, s: String, txt: String): Unit = {
        val nEx = "Exchange".r.findAllIn(s).length
        val nSort = raw"\bSort\b".r.findAllIn(s).length
        // codegen'd operators carry a "* " prefix in formatted explain
        val nWscg = raw"\*\s[A-Z]".r.findAllIn(txt).length
        val nScan = raw"Scan parquet".r.findAllIn(s).length
        audit.append(s"| $label | $nEx | $nSort | $nWscg | $nScan |\n")
      }

      val staged = {
        val it = stagedPlans.iterator(); val b = Seq.newBuilder[
          (String, org.apache.spark.sql.execution.QueryExecution)]
        while (it.hasNext) b += it.next()
        b.result()
      }
      staged.zipWithIndex.foreach { case ((fn, qe), i) =>
        row(s"$name [staged ${i + 1}: $fn]", qe.executedPlan.toString,
          qe.explainString(formatted))
      }
      row(name, df.queryExecution.executedPlan.toString,
        df.queryExecution.explainString(formatted))

      val txt = df.queryExecution.explainString(formatted)
      val note = approximate.get(name)
        .map(n => s"> **approximate past tier threshold:** $n\n\n").getOrElse("")
      val stagedNote =
        if (staged.isEmpty) ""
        else s"> staged: ${staged.size} build-time execution(s) audited as " +
          "sub-rows above (the final plan below starts from the " +
          "materialized intermediate).\n\n"
      sb.append(s"## $name\n\n$note$stagedNote```\n$txt```\n\n")
    }

    Files.writeString(Paths.get("EXPLAIN.md"),
      audit.toString + "\n---\n\n" + sb.toString)
    println("wrote EXPLAIN.md")
    spark.stop()
  }
}
