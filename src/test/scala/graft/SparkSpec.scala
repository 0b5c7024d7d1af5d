package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + golden-compare helpers for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  val refDir = "/root/reference"
  val sfSmoke = "/root/testdata/sf0.001"
  val sfCorrect = "/root/testdata/sf0.01"

  /** `body`'s result and the jobs it started. The jobs carry a job group
    * of this call's own; listener events arrive asynchronously but in
    * order, so a closing job in the same group marks the end of `body`'s
    * events. */
  def jobsOf[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "close")
            closed.countDown()
          else jobs.add(e)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setJobDescription("close")
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(60, TimeUnit.SECONDS), "closing job never seen")
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Compare two frames after sorting rows by `sortCols`: same row count,
    * same columns, per-cell equality with `tol` for floating point.
    */
  def assertSameData(
      got: DataFrame,
      want: DataFrame,
      sortCols: Seq[String],
      tol: Double = 1e-9): Unit = {
    assert(
      got.columns.sorted.toSeq == want.columns.sorted.toSeq,
      s"column mismatch: got ${got.columns.toSeq} want ${want.columns.toSeq}")
    val cols = want.columns.toSeq
    val g = got.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
    val w = want
      .orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
    assert(g.length == w.length, s"row count: got ${g.length} want ${w.length}")
    g.zip(w).zipWithIndex.foreach { case ((gr, wr), i) =>
      cols.indices.foreach { j =>
        val (gv, wv) = (gr.get(j), wr.get(j))
        (gv, wv) match {
          case (null, null) => ()
          case (a: Double, b: Double) =>
            assert(
              (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b)),
              s"row $i col ${cols(j)}: got $a want $b")
          case (a: Float, b: Float) =>
            assert(math.abs(a - b) <= tol * math.max(1.0, math.abs(b)),
              s"row $i col ${cols(j)}: got $a want $b")
          case (a, b) =>
            assert(a != null && a.toString == String.valueOf(b),
              s"row $i col ${cols(j)}: got $a want $b")
        }
      }
    }
  }
}

object SparkSpec {
  /** The engine session every entry point runs, at a fixed width of 8. */
  lazy val session: SparkSession = GraftSession.build(8)
}
