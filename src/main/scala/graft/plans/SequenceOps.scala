package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SegmentedScan._

/** Window functions for LOW-CARDINALITY groups — row_number, lead, running
  * sums and running maxima over PARTITION BY `groupCols` ORDER BY
  * `orderCols` — as [[SegmentedScan]] range scans: parallelism is the
  * range-partition count, not the group count. `orderCols` must be a total
  * order within each group (include a unique tiebreaker); `groupCols` may
  * be empty (a global scan, which a plain `Window.orderBy` would funnel
  * through one task). Semantics equal the window functions (SequenceOpsSpec
  * and the q_m2_ols_next DuckDB oracle pin them).
  */
object SequenceOps {

  /** Append a row_number column (`rnCol`) and/or a lead-by-1 column
    * (`leadOut` of `leadSrc`); the order keys must be non-null. `totalOut`
    * attaches the group's row count (`count(*) OVER (PARTITION BY group)`,
    * e.g. for chronological splits) at no extra job. A segment summarises
    * into its row count and first lead value: row numbers add the earlier
    * segments' counts, and a segment's last row leads into the next one.
    */
  def withSequenceCols(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], leadSrc: Option[String] = None,
      leadOut: String = "lead", rnCol: Option[String] = None,
      numPartitions: Option[Int] = None,
      totalOut: Option[String] = None): DataFrame = {
    val segs = byRange(df, groupCols, orderCols, numPartitions)
    // min over the order-key struct = the in-order first row (order keys
    // non-null per contract), carrying its lead-source value along
    val first = leadSrc.map(src => min(struct(orderCols.map(col) :+ col(src): _*)))
    val bounds = summarise(segs, groupCols, count(lit(1)) +: first.toSeq)
    val (offs, totals) = prefix(bounds, 0L)(_ + _.getLong(0))
    // the successor lead is the same exclusive fold run backwards: each
    // segment receives the first value of the group's next segment
    val succ = prefix(bounds.reverse, null: Any) { (_, r) =>
      leadSrc.map { _ => val st = r.getStruct(1); st.get(st.length - 1) }.orNull
    }._1.reverse
    val lw = Window.partitionBy(col(PidCol) +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val windowed = leadSrc.foldLeft(
        segs.withColumn("__seq_rnl", row_number().over(lw))) { (d, src) =>
      d.withColumn("__seq_leadl", lead(col(src), 1).over(lw))
    }
    def long(n: String) = StructField(n, LongType, nullable = false)
    stitch(windowed, df.columns.toSeq, groupCols, bounds,
      Seq(long("__seq_off"), long("__seq_cnt"), long("__seq_total"),
        StructField("__seq_succ",
          leadSrc.map(df.schema(_).dataType).getOrElse(NullType))),
      bounds.indices.map { i =>
        Seq(offs(i), bounds(i)._3.getLong(0), totals(bounds(i)._2), succ(i)) })(
      leadSrc.map(_ => leadOut ->
        when(col("__seq_rnl") === col("__seq_cnt"), col("__seq_succ"))
          .otherwise(col("__seq_leadl"))).toSeq ++
      rnCol.map(_ -> (col("__seq_off") + col("__seq_rnl")).cast("long")) ++
      totalOut.map(_ -> col("__seq_total")))
  }

  /** Exact running sum of an integral column (Long arithmetic, so exact and
    * engine-portable). `totalOut` attaches the group's total. */
  def runningSum(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], valCol: String, outCol: String,
      numPartitions: Option[Int] = None,
      totalOut: Option[String] = None): DataFrame =
    runningSums(df, groupCols, orderCols, Seq(valCol -> outCol),
      numPartitions, totalOut)

  /** Exact running sums of SEVERAL integral columns over the SAME ordering
    * in ONE scan (the KS statistic's two cumulative counts). `totalOut`
    * attaches the FIRST value column's group total. */
  def runningSums(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], vals: Seq[(String, String)],
      numPartitions: Option[Int] = None,
      totalOut: Option[String] = None): DataFrame =
    scan(SumMonoid, df, groupCols, orderCols, vals, numPartitions, totalOut)

  /** Exact running MAX of an integral column; a null-only prefix stays
    * null. The canonical consumer is watermark-lateness auditing:
    * lateness = runningMax(ts) − ts over the arrival order. */
  def runningMax(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], valCol: String, outCol: String,
      numPartitions: Option[Int] = None): DataFrame =
    scan(MaxMonoid, df, groupCols, orderCols, Seq(valCol -> outCol),
      numPartitions, None)

  /** A Long monoid: aggregate (summary and local window; skips nulls),
    * identity, driver `plus`, and stitch of (offset, local value). */
  private final case class Monoid(zero: Long, agg: Column => Column,
      plus: (Long, Long) => Long, stitch: (Column, Column) => Column)
  private val SumMonoid = Monoid(0L, sum(_), _ + _, _ + _)
  // MinValue offset = no prior value: a null local prefix stays null
  private val MaxMonoid = Monoid(Long.MinValue, max(_), math.max,
    (off, local) => when(off === Long.MinValue, local)
      .otherwise(greatest(local, off)))

  private def scan(m: Monoid, df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], vals: Seq[(String, String)],
      numPartitions: Option[Int], totalOut: Option[String]): DataFrame = {
    require(vals.nonEmpty, "runningSums needs at least one value column")
    val segs = byRange(df, groupCols, orderCols, numPartitions)
    val vs = vals.map(v => col(v._1).cast("long"))
    val bounds = summarise(segs, groupCols,
      vs.map(v => coalesce(m.agg(v), lit(m.zero))))
    val (offs, totals) = prefix(bounds, vs.map(_ => m.zero)) { (s, r) =>
      s.indices.map(i => m.plus(s(i), r.getLong(i)))
    }
    val lw = Window.partitionBy(col(PidCol) +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = vs.zipWithIndex.foldLeft(segs) { case (d, (v, i)) =>
      d.withColumn(s"__seq_l$i", m.agg(v).over(lw))
    }
    stitch(windowed, df.columns.toSeq, groupCols, bounds,
      (vs.indices.map(i => s"__seq_off$i") :+ "__seq_tot")
        .map(StructField(_, LongType, nullable = false)),
      bounds.indices.map(i => offs(i) :+ totals(bounds(i)._2).head))(
      vals.zipWithIndex.map { case ((_, out), i) =>
        out -> m.stitch(col(s"__seq_off$i"), col(s"__seq_l$i")) } ++
      totalOut.map(_ -> col("__seq_tot")))
  }
}
