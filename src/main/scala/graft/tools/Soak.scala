package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** Scale soak: synthesize an ~N×-sf0.1 star schema by unioning key-shifted
  * copies (keys stay consistent across tables, so joins/windows behave like
  * genuinely larger data), write it as parquet, and time the headline
  * queries — evidence that the plans scale linearly rather than
  * combinatorially.
  *
  * Usage: runMain graft.tools.Soak [copies] [outDir] [querySet]
  *   querySet: "matrix" = the r12-verdict heavy set (composed gates +
  *   similarity family + heaviest tail) for the BASELINE.md soak matrix;
  *   a comma-separated list = exactly those queries; absent = the legacy
  *   broad headline sweep.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val copies = if (args.length > 0) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1)
      else "target/soak_sf1"
    val querySet = args.drop(2).headOption
    // the engine session with its optimizer rules — without them the soak
    // times the INTERPRETED higher-order dot-product folds instead of the
    // codegen'd DotProduct the shipped engine runs (measured 10.7× on
    // q_s_knn_ivf's in-cell re-rank)
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"

    // ---- per-copy key stride: DERIVED from the data, not assumed --------
    // One global power-of-10 stride above the max of every shifted key
    // column (ADVICE r12: a fixed 1e7 stride silently aliases copies the
    // moment a source key exceeds it). A single shared stride keeps
    // referential integrity across tables (o_custkey shifts exactly like
    // c_custkey), and the require makes a violated assumption loud.
    def maxKey(table: String, key: String): Long = {
      val df =
        if (table == "events")
          spark.read.schema(graft.model.Schemas.events)
            .parquet(s"$src/events.parquet")
        else spark.read.parquet(s"$src/$table.parquet")
      df.agg(max(col(key)).cast("long")).first().getLong(0)
    }
    val keyed = Seq(
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "orders" -> "o_custkey", "customer" -> "c_custkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "user_id", "events" -> "event_id")
    val globalMax = keyed.map { case (t, k) => maxKey(t, k) }.max
    val shift = {
      var s = 1000000L
      while (s <= globalMax) s *= 10
      s
    }
    require(shift > globalMax && shift > 0,
      s"soak stride $shift must exceed max source key $globalMax")
    println(s"[soak] per-copy key stride $shift (max source key $globalMax)")

    def scaleUp(name: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val scaled = (0 until copies).map { i =>
        keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * shift)))
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    // key shift keeps referential integrity within each copy
    val t0 = System.nanoTime()
    scaleUp("lineitem", Seq("l_orderkey"))
    scaleUp("orders", Seq("o_orderkey", "o_custkey"))
    scaleUp("customer", Seq("c_custkey"))
    scaleUp("documents", Seq("doc_id"))
    // vec_id-shifted embeddings (since r13): the similarity family's CORPUS
    // now grows with the soak while its query sets stay charter-bounded
    // (vec_id < QueryIdMax / KnnEvalMax survive the shift — only copy 0
    // holds small ids), so ANN soak times measure index scaling, not an
    // all-pairs blow-up.
    scaleUp("embeddings", Seq("vec_id"))
    // small dims unchanged
    Seq("supplier", "part", "nation", "region").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet").write.mode("overwrite")
        .parquet(s"$outDir/$n.parquet")
    }
    // events carries a TIMESTAMP(NANOS) column Spark can't infer — read it
    // with the explicit schema like every other events consumer (the soak
    // copy lands as plain int64 nanos, which Schemas.events reads the
    // same). Scaled like the fact tables since round 12: user_id/event_id
    // shift per copy (so sessionization/retention/funnels see N× the
    // USERS — the axis an event stream actually grows on) while ts keeps
    // its calendar range (watermark horizons and window counts hold).
    val ev = spark.read.schema(graft.model.Schemas.events)
      .parquet(s"$src/events.parquet")
    (0 until copies).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i * shift))
        .withColumn("event_id", col("event_id") + lit(i * shift))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(f"[soak] built ${copies}x sf0.1 in ${(System.nanoTime()-t0)/1e9}%.1f s")

    /** The r12-verdict soak matrix: the bench's heaviest tail — the 8
      * composed pipeline gates, the similarity family (fixed eval sets
      * over the now-scaling corpus), and the slowest standalone queries
      * from the r12 profiled Verify/Bench runs. Every member scans a
      * table this soak scales. Deliberately absent: q_s_ndcg and
      * q_s_mutual_nn (their charters run ALL vectors as queries, so the
      * soak would measure the documented quadratic eval path, not plan
      * quality).
      */
    val matrix = Seq(
      "q_s_knn", "q_s_knn_ivf", "q_s_cosine_topk", "q_s_ivf_topk",
      "q_s_pq_topk", "q_s_sq_topk", "q_s_recall_ivf", "q_s_kcenter",
      "q_pipeline_e2e", "q_pipeline_cdc_e2e", "q_pipeline_ml_e2e",
      "q_pipeline_graph_e2e", "q_pipeline_ivfpq_e2e", "q_pipeline_mm_e2e",
      "q_pipeline_pack_e2e", "q_pipeline_stream_e2e",
      "q_m13_robust", "q_m23_isotonic", "q_m33_dbscan",
      "q_m47_feature_rank", "q_g_hits", "q_m2_ols_next", "q_e_scd_stream",
      "q_m12_spearman")

    val legacy = Seq("q1_pricing_summary", "q_a1_quarterly_price",
      "q_j5_star_revenue", "q_w3_zscore", "q_m4_anomalies", "q_m2_ols_next",
      "q_w8_rolling_corr", "q_d_exact", "q_m1_ols", "q_t_quality",
      "q_d_minhash_lsh", "q_d_simhash", "q_d_ngram_jaccard",
      "q_d_components", "q_t_repetition", "q_t_lm_score", "q_t_tfidf",
      "q_t_pmi", "q_t_pii", "q_j_salted",
      "q_asof_join", "q_range_join",
      "q_s_pq_topk", "q_zorder_tiles", "q_scd2_merge", "q_mm_frames",
      "q_e_session_window",
      // round-7 additions whose INPUTS scale in this soak. Deliberately
      // absent: q_d_fuzzy (its part input is a fixed dim here) and
      // q_g_triangles (with dims fixed, 10× facts densifies the graph —
      // wedge volume grows with density³, an output-bound blow-up the
      // TriMinQty support threshold governs, not a plan property).
      "q_w12_ewma", "q_f_rsi", "q_f_ohlc_weekly", "q_f_beta", "q_t_dsir",
      "q_t_bm25", "q_quantile_exact", "q_hll_distinct", "q_cms_topk",
      "q_g_pagerank", "q_t_decontaminate", "q_t_line_dedup",
      // round-7 batch: profiler histograms, rank stats, NB scoring, and
      // the prefix-sum decile all scan the scaled fact tables
      // (q_f_interp/q_e_retention excluded — calendar-/user-bounded
      // outputs don't grow with facts, so 10× re-times near-fixed work)
      "q_p_profile", "q_a20_gini", "q_a21_entropy", "q_m9_nbayes",
      "q_m10_logreg_step", "q_m11_welch", "q_w13_decile", "q_f_var_es",
      "q_f_seasonality",
      // round-7 batch: rank stats, winsorization, the CDC diff, and the
      // sparse-cosine/vocab joins all scan tables that grow with SF
      // (q_f_holt excluded — the daily-close series is calendar-bounded)
      "q_m12_spearman", "q_m13_robust", "q_a22_mi", "q_a23_winsor",
      "q_audit_diff", "q_s_sparse_cosine", "q_t_vocab_overlap",
      "q_audit_fk", "q_t_mixture",
      // round-7 batch: every member scans a table this soak scales
      // (lineitem / orders / customer / documents). The events-based
      // additions (attribution, survival, abtest, hll_stream) are
      // excluded — events is copied unscaled, so 10× would re-time
      // identical data.
      "q_m14_anova", "q_m15_kendall", "q_m16_cusum", "q_m17_theilsen",
      "q_m18_pca", "q_t_jsd", "q_kmv_distinct", "q_g_assortativity",
      "q_src_partitioned", "q_e_scd_stream",
      // round-9 batch: every member scans a scaled table (lineitem /
      // orders / customer / documents). q_e_lateness is excluded (events
      // horizon-bounded); q_m23_isotonic's O(n²) stage is year-bounded
      // but its daily aggregation pass scales, like
      // pettitt/wilcoxon/garch.
      "q_g_hits", "q_m23_isotonic", "q_m24_mahalanobis", "q_m25_em_step",
      "q_m26_pettitt", "q_m27_wilcoxon", "q_m28_huber", "q_t_zipf",
      "q_f_sortino", "q_f_garch", "q_w15_range_frame", "q_p_expectations",
      "q_j6_q3_shape", "q_j7_q18_shape", "q_d_lsh_recall",
      // round-12 composed pipelines: both scan `documents`, which scales
      "q_pipeline_e2e", "q_pipeline_pack_e2e",
      // round-12 events scaling (user-shifted copies): the events family
      // now sees N× the users — including the multi-stateful STREAMING
      // pipeline driven through the real engine at N× volume
      "q_e_sessionize", "q_e_retention", "q_e_markov", "q_e_attribution",
      "q_e_rfm", "q_e_funnel", "q_e_survival", "q_e_hourly",
      "q_pipeline_stream_e2e")

    val headline = querySet match {
      case Some("matrix") => matrix
      case Some(csv)      => csv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      case None           => legacy
    }
    headline.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown soak query $n"))

    // warm once at sf0.1 so soak timings measure data volume, not codegen;
    // clearCaches frees the intermediates operators self-materialize
    // (localCheckpoint), so no run pays for an earlier query's blocks
    headline.foreach { n =>
      SparkEntry.queries(n)(spark, src).count()
      GraftSession.clearCaches(spark)
    }
    val results = headline.map { n =>
      val s0 = System.nanoTime()
      val small = SparkEntry.queries(n)(spark, src).count()
      GraftSession.clearCaches(spark)
      val sMid = System.nanoTime()
      val big = SparkEntry.queries(n)(spark, outDir).count()
      GraftSession.clearCaches(spark)
      val sEnd = System.nanoTime()
      val tSmall = (sMid - s0) / 1e9
      val tBig = (sEnd - sMid) / 1e9
      println(f"[soak] $n%-24s sf0.1 $tSmall%6.2fs ($small%9d rows)  ${copies}x $tBig%6.2fs ($big%9d rows)  ratio ${tBig / tSmall}%5.2f")
      (n, tSmall, tBig)
    }
    val worst = results.maxBy(r => r._3 / r._2)
    println(f"[soak] worst scaling: ${worst._1} ${(worst._3 / worst._2)}%.2fx time at ${copies}x data")
    spark.stop()
  }
}
