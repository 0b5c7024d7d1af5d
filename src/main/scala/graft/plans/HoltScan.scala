package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Distributed Holt linear-trend smoothing (double exponential smoothing,
  * statsmodels' `ExponentialSmoothing(trend='add')`), seeded l_1 = x_1,
  * b_1 = 0 and run as a [[SegmentedScan.recurrence]]:
  *
  *   l_t = (1−α)·(l_{t−1} + b_{t−1}) + α·x_t
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  *
  * i.e. v_t = A·v_{t−1} + c·x_t on v = (l, b), A = [[1−α, 1−α],
  * [−αβ, β(1−α)+(1−β)]]. Carry: a fold seeded with `s` differs from the
  * fresh fold by d_n = A^{n−1}·d_1, d_1 = step(s, x_1) − (x_1, 0), so an
  * n-row segment leaves with last + A^{n−1}·d_1 (A^{n−1} by squaring). A's
  * spectral radius √((1−α)(1−β)) < 1, so deep-history corrections decay.
  *
  * Bit-exactness: every output is the step in the operand order above,
  * mirrored verbatim by the oracle SQL, so a DuckDB recursive CTE seeded
  * from the seeds table reproduces every row bit for bit. Contracts match
  * [[EwmaScan]].
  */
object HoltScan {

  /** Holt level+trend columns appended to `df`; see [[holtWithSeeds]]. */
  def holt(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      bucketKey: Column, valCol: String, alpha: Double, beta: Double,
      levelCol: String, trendCol: String, buckets: Int = 32): DataFrame =
    holtWithSeeds(df, groupCols, orderCols, bucketKey, valCol, alpha, beta,
      levelCol, trendCol, buckets)._1

  /** Returns (result, seeds): `result` is `df` plus level and trend
    * columns; `seeds` is the (`__holt_b`, group…, `seed_l`, `seed_b`) table
    * of the state ENTERING each segment (nulls for a group's first
    * segment), which is all an external engine needs to replay the
    * recurrence exactly (Verify dumps it under aux/).
    */
  def holtWithSeeds(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], bucketKey: Column, valCol: String,
      alpha: Double, beta: Double, levelCol: String, trendCol: String,
      buckets: Int = 32): (DataFrame, DataFrame) = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(beta > 0.0 && beta < 1.0, s"beta must be in (0,1): $beta")
    val om = 1.0 - alpha
    val ob = 1.0 - beta
    type V = (Double, Double)
    def step(v: V, x: Double): V = {
      val l1 = om * (v._1 + v._2) + alpha * x
      (l1, beta * (l1 - v._1) + ob * v._2)
    }
    type M = (Double, Double, Double, Double) // 2×2, row-major
    def mul(p: M, q: M): M = (
      p._1 * q._1 + p._2 * q._3, p._1 * q._2 + p._2 * q._4,
      p._3 * q._1 + p._4 * q._3, p._3 * q._2 + p._4 * q._4)
    def pow(m: M, e: Long): M = { // by squaring
      var r: M = (1.0, 0.0, 0.0, 1.0); var base = m; var k = e
      while (k > 0) {
        if ((k & 1L) == 1L) r = mul(r, base)
        base = mul(base, base); k >>= 1
      }
      r
    }
    SegmentedScan.recurrence(df, groupCols, orderCols, bucketKey, valCol,
      buckets, Seq(levelCol, trendCol), SegmentedScan.Recurrence[V](
        "HoltScan", "__holt_b", Seq("seed_l", "seed_b"),
        fresh = x => (x, 0.0),
        step = step,
        carry = { (s, n, x1, last) =>
          val s1 = step(s, x1)
          val (d1l, d1b) = (s1._1 - x1, s1._2 - 0.0) // d_1
          val a = pow((om, om, -alpha * beta, beta * om + ob), n - 1)
          (last._1 + (a._1 * d1l + a._2 * d1b), last._2 + (a._3 * d1l + a._4 * d1b))
        },
        state = v => Seq(v._1, v._2)))
  }
}
