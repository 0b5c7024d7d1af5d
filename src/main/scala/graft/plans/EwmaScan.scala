package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Distributed exponentially-weighted moving average, the recurrence
  * `y_t = (1−α)·y_{t−1} + α·x_t` seeded `y_1 = x_1` (pandas
  * `ewm(alpha=…, adjust=False).mean()`, the reference's EMA indicators),
  * run as a [[SegmentedScan.recurrence]] over buckets of `bucketKey` (e.g.
  * epoch-days of the date column).
  *
  * Carry: a fold seeded with `s` differs from the fresh fold by
  * `(1−α)·(s − x_1)` after the first row, decaying by `(1−α)` per row, so an
  * n-row segment leaves with `y_last + (1−α)^n · (s − x_1)`. For α=0.125 the
  * correction underflows to exactly 0 past ~5 300 rows, so composition is
  * numerically benign at any scale.
  *
  * Bit-exactness: every output is the step `(1−α)·y + α·x` in that operand
  * order (a seeded segment opens with `(1−α)·seed + α·x`), so a DuckDB
  * recursive CTE seeded from the seeds table reproduces every row bit for
  * bit. Contracts: `orderCols` a total order within each group; `bucketKey`
  * non-null and non-decreasing in the leading order column; `valCol`
  * non-null (loud IllegalArgumentException otherwise).
  */
object EwmaScan {

  /** EWMA column appended to `df`; see [[ewmaWithSeeds]]. */
  def ewma(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      bucketKey: Column, valCol: String, alpha: Double, outCol: String,
      buckets: Int = 32): DataFrame =
    ewmaWithSeeds(df, groupCols, orderCols, bucketKey, valCol, alpha,
      outCol, buckets)._1

  /** Returns (result, seeds): `result` is `df` plus the `outCol` EWMA
    * column; `seeds` is the (`__ewma_b`, group…, `seed`) table of the value
    * entering each segment (null for a group's first segment) — what an
    * external engine needs to replay the recurrence exactly (Verify dumps
    * it under aux/ for the DuckDB oracle).
    */
  def ewmaWithSeeds(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], bucketKey: Column, valCol: String,
      alpha: Double, outCol: String,
      buckets: Int = 32): (DataFrame, DataFrame) = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val om = 1.0 - alpha
    SegmentedScan.recurrence(df, groupCols, orderCols, bucketKey, valCol,
      buckets, Seq(outCol), SegmentedScan.Recurrence[Double](
        "EwmaScan", "__ewma_b", Seq("seed"),
        fresh = x => x,
        step = (y, x) => om * y + alpha * x,
        carry = (s, n, x1, yL) => yL + math.pow(om, n.toDouble) * (s - x1),
        state = y => Seq(y)))
  }
}
