package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // optional comma-separated filter for targeted iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // deterministic order: hash-Map iteration reshuffles whenever an entry
    // is added, silently reassigning the first-query warm-up tax to a
    // different query each round (the r1→r2 "drift on untouched queries")
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)
    // a query that throws is FAILED, not timed: its name is reported and
    // its time is left out of every total
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def pass(): Seq[(String, Double)] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case _: Throwable => failed += name }
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clearCaches(spark)
      name -> dt
    }
    // cold pass = JVM/codegen warm-up included; timed passes = steady-state
    // throughput, the number that extrapolates to a long-running cluster.
    // Per-query result is the MIN across two timed passes: single-shot
    // times on a shared machine pick up transient ambient load (measured:
    // the identical binary scored 9.6 s vs 0.66 s on q_j5_star_revenue
    // depending solely on co-resident load), and min-of-reps is the
    // standard steady-state estimator robust to one-sided noise. Cold
    // total is reported alongside. SPARK_GRAFT_NO_WARMUP=1 → single cold
    // pass (fast iteration).
    val warm = !sys.env.contains("SPARK_GRAFT_NO_WARMUP")
    val cold = pass()
    val results =
      (if (warm) pass().zip(pass()).map { case ((k, a), (_, b)) => k -> math.min(a, b) }
      else cold).filterNot(r => failed(r._1))
    // The harness keeps only a bounded tail of this process's output, so the
    // single JSON line must stay compact enough to survive intact: per-query
    // times at millisecond precision (3 decimals — noise dominates below
    // that anyway), then the compact list of failed query names, and the
    // headline metric/value fields LAST so that even a head-clipped tail
    // still shows the failures and the totals.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val coldTotal = cold.filterNot(r => failed(r._1)).map(_._2).sum
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    // "reps" tags the estimator so cross-round comparisons can't conflate
    // min-of-2 steady-state totals with earlier single-pass numbers
    val reps = if (warm) 2 else 1
    println(s"""{"queries":$qs,"cold_total_sec":${f3(coldTotal)},"reps":$reps,"sf":"$sfDir","failed":$failedJson,"metric":"total","unit":"sec","value":${f3(total)}}""")
    spark.stop()
  }
}
