package graft.tools

import graft.{GraftSession, SparkEntry}

/** Prints formatted physical plans for the headline queries so the
  * scale-critical properties are auditable: parquet filter pushdown +
  * column pruning (PushedFilters/ReadSchema), broadcast joins on dimension
  * sides, partial (map-side) aggregation, single-shuffle windows.
  *
  * Usage: runMain graft.tools.PlanAudit [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q_a1_quarterly_price",
        "q_j5_star_revenue", "q_w3_zscore", "q_m4_anomalies",
        "q_d_exact", "q_s_cosine_topk", "q_d_components", "q_t_tfidf",
        "q_t_pmi", "q_j_salted", "q_t_split",
        // round-12 composed pipelines: the manifest/funnel plans show the
        // stage seams (checkpoint scans, broadcast budgets, range
        // partitioning, band-bucket joins)
        "q_pipeline_pack_e2e", "q_pipeline_ivfpq_e2e")
    // the audited plans are the plans the bench runs: same session
    val spark = GraftSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
