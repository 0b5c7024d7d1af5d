package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, DotProductRewrite, VectorFunctions}

/** The shared session: the suite's session is the engine session, so every
  * spec plans with the optimizer rules no matter which spec runs first, and
  * building it again neither makes a second session nor a second copy of a
  * rule. Because the rules are always there, the native DotProduct is
  * checked against the interpreted fold here with its rule taken out.
  */
class GraftSessionSpec extends SparkSpec {

  private def ruleCounts(s: org.apache.spark.sql.SparkSession): Seq[Int] =
    GraftSession.rules.map(r => s.experimental.extraOptimizations.count(_ eq r))

  test("a fresh suite session holds each rewrite rule exactly once") {
    assert(GraftSession.rules.size == 3)
    assert(ruleCounts(spark) == Seq(1, 1, 1))
  }

  test("building again returns the same session without duplicating a rule") {
    val again = GraftSession.build(8)
    assert(again eq spark)
    assert(ruleCounts(again) == Seq(1, 1, 1))
  }

  test("the session is UTC, non-ANSI and 8 shuffle partitions wide") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
  }

  // perfbench's warehouse workload: short catalog queries whose generated
  // classes must all stay in Spark's JVM-wide codegen cache
  private val warehouse = Seq("q_a1_quarterly_price", "q_a4_stats",
    "q_a15_distinct", "q_w1_lead", "q_w4_rolling", "q_w12_ewma", "q_j_anti",
    "q_j_semi", "q_j5_star_revenue", "q_cube", "q_m4_anomalies")

  test("a second pass over the warehouse queries compiles no class") {
    def compiled(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      warehouse.foreach(q => SparkEntry.queries(q)(spark, sfSmoke).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiled() // the first pass fills the cache
    assert(compiled() == 0)
  }

  private def dotCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case d: DotProduct => d }).size

  private def withoutDotRewrite[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ eq DotProductRewrite)
    try body finally spark.experimental.extraOptimizations = prev
  }

  // The session carries DotProductRewrite, which turns the fold below into
  // DotProduct; only with the rule out of the list does the fold stay the
  // interpreted higher-order form the native expression must match.
  test("native dot == interpreted fold, bit-for-bit, with the rewrite off") {
    def frames = {
      val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
      val pairs = e.as("a").crossJoin(e.as("b").limit(5))
      val fold = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
        lit(0.0), _ + _)
      (pairs.select(fold.as("fold")),
        pairs.select(
          VectorFunctions.dotProduct(spark, col("a.v"), col("b.v")).as("nat"),
          fold.as("fold")))
    }
    assert(dotCount(frames._1) == 1, "the rule no longer rewrites the fold")
    withoutDotRewrite {
      val (foldOnly, both) = frames
      assert(dotCount(foldOnly) == 0)
      assert(dotCount(both) == 1)
      val rows = both.collect()
      assert(rows.length == 2500)
      val bits = (d: Any) => Option(d).map(x =>
        java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))
      val bad = rows.count(r => bits(r.get(0)) != bits(r.get(1)))
      assert(bad == 0, s"$bad pairs differ")
      assert(rows.forall(!_.isNullAt(0)))
    }
  }
}
