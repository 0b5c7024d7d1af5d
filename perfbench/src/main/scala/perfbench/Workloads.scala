package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A failed output check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Closed-loop operation recorder: one client, the next operation starts
  * when the previous one returns. An operation that throws (including a
  * failed output check) is counted and named, never timed as a success.
  */
final class Recorder(spark: SparkSession) {
  val samples = ArrayBuffer[(String, Double)]()
  val failures = ArrayBuffer[(String, String)]()
  val digests = mutable.Map[String, mutable.Set[String]]()
  var attempted = 0L
  var timing = false // false while setting up: outcomes count, times do not
  var pass = 0
  var trace: Option[Trace] = None

  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    trace.foreach(_.begin(name, pass))
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.end(out.isRight))
    out match {
      case Right(v) =>
        if (timing) samples += ((name, dt))
        Some(v)
      case Left(e) =>
        fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A check made outside an operation's timing failed. */
  def fail(name: String, msg: String): Unit =
    failures += ((name, Option(msg).getOrElse("").replace('\n', ' ').take(300)))

  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

trait Workload {
  /** One pass over the workload's operations, in an order drawn from `rng`. */
  def pass(rng: Random, rec: Recorder): Unit
  /** Human-readable end-of-run facts (for example space amplification). */
  def report: Seq[(String, Double, String)] = Nil
  /** Per-layer facts only the workload knows (index state, per-API times). */
  def layerMetrics: Seq[(String, Double, String)] = Nil
}

/** Catalog queries from SparkEntry.queries. Each operation produces the
  * query's complete result (Digest.of) and compares it with the digest
  * pinned for this data scale.
  */
final class CatalogWorkload(spark: SparkSession, dataDir: String,
    names: Seq[String], pinned: Map[String, String], pinning: Boolean)
    extends Workload {
  private val queries = SparkEntry.queries
  private val missing = names.filterNot(queries.contains)
  require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(",")}")

  def pass(rng: Random, rec: Recorder): Unit =
    rng.shuffle(names).foreach { name =>
      rec.op(name) {
        val d = Digest.of(queries(name)(spark, dataDir))
        rec.digests.getOrElseUpdate(name, mutable.Set()) += d
        pinned.get(name) match {
          case Some(p) if p == d || pinning => ()
          case Some(p) => throw new CheckFailed(s"digest $d, pinned $p")
          case None if pinning => ()
          case None => throw new CheckFailed(s"no pinned digest (result $d)")
        }
      }
      rec.clearCaches()
    }
}

/** Writes beside reads: one cycle of each persisted index's lifecycle and
  * the streaming dedup gate, in an order drawn per pass.
  */
final class Ingest(val index: IndexLifecycle, gates: CatalogWorkload) extends Workload {
  def pass(rng: Random, rec: Recorder): Unit = {
    val parts = index.cycles :+ ((r: Random) => gates.pass(r, rec))
    rng.shuffle(parts).foreach(_(rng))
    index.measureSpace()
  }
  override def report: Seq[(String, Double, String)] = index.report
  override def layerMetrics: Seq[(String, Double, String)] = index.layerMetrics
}

object Workloads {
  val names: Seq[String] = Seq("warehouse", "ingest")

  /** The reference's own surface: OLAP pivots and statistics, returns/risk
    * windows (EWMA included), semi/anti/star joins, a cube, and anomaly
    * mining. Short read-only queries, so per-query fixed cost (planning,
    * scan set-up, job launch) dominates. Eleven operations: with two passes
    * the median and the 90th percentile each fall inside one operation's
    * samples instead of on the gap between two.
    */
  val warehouse: Seq[String] = Seq(
    "q_a1_quarterly_price", "q_a4_stats", "q_a15_distinct",
    "q_w1_lead", "q_w4_rolling", "q_w12_ewma",
    "q_j_anti", "q_j_semi", "q_j5_star_revenue", "q_cube", "q_m4_anomalies")

  /** The streaming gate of the ingest workload: stateful deduplication,
    * so every micro-batch commits state and offset logs.
    */
  val streamGates: Seq[String] = Seq("q_e_dedup_stream")
}
