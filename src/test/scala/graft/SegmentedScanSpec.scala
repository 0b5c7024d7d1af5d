package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{EwmaScan, HoltScan}

/** The shared segmented scan behind EwmaScan and HoltScan: each family's
  * seeds must be its OWN composition of the raw rows (not merely
  * self-consistent on replay), null group keys must survive segmenting,
  * and the shared segmenting step refuses duplicate column names.
  */
class SegmentedScanSpec extends SparkSpec {

  private val (alpha, beta, buckets) = (0.125, 0.25, 4)

  private val schema = StructType(Seq(StructField("g", StringType),
    StructField("t", IntegerType), StructField("x", DoubleType)))

  private def mkDf(rows: Seq[(String, Int, Double)]) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)

  private val rows: Seq[(String, Int, Double)] = {
    var seed = 11L
    (0 until 300).map { i =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (s"g${i % 2}", i, ((seed >>> 11) % 100000L) / 100.0)
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Driver replica of the segmentation and the per-group composition:
    * segments in bucket order, each the fresh fold's (count, first x, last
    * state); returns the state entering each (bucket, group). */
  private def composed[S](fresh: Double => S, step: (S, Double) => S,
      carry: (S, Long, Double, S) => S): Map[(Int, String), Option[S]] = {
    val lo = rows.map(_._2).min.toLong
    val width = (rows.map(_._2).max.toLong - lo) / buckets + 1
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      var in = Option.empty[S]
      rs.groupBy(r => ((r._2 - lo) / width).toInt).toSeq.sortBy(_._1).map {
        case (b, seg) =>
          val xs = seg.sortBy(_._2).map(_._3)
          val last = xs.tail.foldLeft(fresh(xs.head))(step)
          val entering = (b, g) -> in
          in = Some(in.fold(last)(carry(_, xs.length.toLong, xs.head, last)))
          entering
      }
    }.toMap
  }

  test("(a) seeds equal each family's own composition bit for bit") {
    val om = 1.0 - alpha
    val wantE = composed[Double](x => x, (y, x) => om * y + alpha * x,
      (s, n, x1, yL) => yL + math.pow(om, n.toDouble) * (s - x1))
    val (_, seedsE) = EwmaScan.ewmaWithSeeds(mkDf(rows), Seq("g"), Seq("t"),
      col("t"), "x", alpha, "ewma", buckets)
    val gotE = seedsE.collect().map(r => (r.getInt(0), r.getString(1)) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(gotE.keySet == wantE.keySet)
    assert(wantE.values.count(_.isDefined) >= 2 * (buckets - 1))
    wantE.foreach { case (k, w) => assert(gotE(k).map(bits) == w.map(bits), k) }

    type V = (Double, Double)
    val ob = 1.0 - beta
    def step(v: V, x: Double): V = {
      val l1 = om * (v._1 + v._2) + alpha * x
      (l1, beta * (l1 - v._1) + ob * v._2)
    }
    type M = (Double, Double, Double, Double)
    def mul(p: M, q: M): M = (p._1 * q._1 + p._2 * q._3,
      p._1 * q._2 + p._2 * q._4, p._3 * q._1 + p._4 * q._3,
      p._3 * q._2 + p._4 * q._4)
    def pow(m: M, e: Long): M = {
      var (r, base, k): (M, M, Long) = ((1.0, 0.0, 0.0, 1.0), m, e)
      while (k > 0) {
        if ((k & 1L) == 1L) r = mul(r, base)
        base = mul(base, base); k >>= 1
      }
      r
    }
    val wantH = composed[V](x => (x, 0.0), step, { (s, n, x1, last) =>
      val s1 = step(s, x1)
      val (dl, db) = (s1._1 - x1, s1._2 - 0.0)
      val a = pow((om, om, -alpha * beta, beta * om + ob), n - 1)
      (last._1 + (a._1 * dl + a._2 * db), last._2 + (a._3 * dl + a._4 * db))
    })
    val (_, seedsH) = HoltScan.holtWithSeeds(mkDf(rows), Seq("g"), Seq("t"),
      col("t"), "x", alpha, beta, "level", "trend", buckets)
    val gotH = seedsH.collect().map(r => (r.getInt(0), r.getString(1)) ->
      (if (r.isNullAt(2)) None else Some((r.getDouble(2), r.getDouble(3)))))
      .toMap
    assert(gotH.keySet == wantH.keySet)
    wantH.foreach { case (k, w) =>
      assert(gotH(k).map(v => (bits(v._1), bits(v._2))) ==
        w.map(v => (bits(v._1), bits(v._2))), k)
    }
  }

  test("(b) null group keys survive both recurrences and get seeds rows") {
    val withNull = rows.map { case (g, t, x) =>
      (if (g == "g1") null else g, t, x) }
    val (ewma, seedsE) = EwmaScan.ewmaWithSeeds(mkDf(withNull), Seq("g"),
      Seq("t"), col("t"), "x", alpha, "ewma", buckets)
    val (holt, seedsH) = HoltScan.holtWithSeeds(mkDf(withNull), Seq("g"),
      Seq("t"), col("t"), "x", alpha, beta, "level", "trend", buckets)
    val nNull = withNull.count(_._1 == null).toLong
    for ((res, seeds) <- Seq(ewma -> seedsE, holt -> seedsH)) {
      assert(res.count() == rows.length)
      assert(res.filter(col("g").isNull).count() == nNull)
      val nullSeeds = seeds.filter(col("g").isNull).collect()
      assert(nullSeeds.length == buckets)
      assert(nullSeeds.count(_.isNullAt(2)) == 1, "one first segment")
    }
  }

  test("(c) both recurrences refuse duplicate column names") {
    // `u` is referenced by nothing, so only the names check can refuse it
    val dup = mkDf(rows.take(10)).select(col("g"), col("t"), col("x"),
      lit(1).as("u"), lit(2).as("u"))
    val errs = Seq(
      intercept[IllegalArgumentException](EwmaScan.ewma(dup, Seq("g"),
        Seq("t"), col("t"), "x", alpha, "ewma")),
      intercept[IllegalArgumentException](HoltScan.holt(dup, Seq("g"),
        Seq("t"), col("t"), "x", alpha, beta, "level", "trend")))
    errs.zip(Seq("EwmaScan", "HoltScan")).foreach { case (e, who) =>
      assert(e.getMessage.contains(s"$who: duplicate column names"), e)
    }
  }
}
