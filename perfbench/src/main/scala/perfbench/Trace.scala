package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced operation cost, layer by layer. Times are milliseconds
  * unless named otherwise; every field is filled by the listeners below.
  */
final class OpCost(val op: String, val pass: Int) {
  var startMs, endMs = 0L
  var ok = true
  // plan
  var actions = 0L
  var analysisMs, optimizationMs, physicalMs = 0L
  // scan
  var inputBytes, inputRows, listingJobs = 0L
  // exec
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  // driver
  var resultBytes = 0L
  var heapPeakBytes = 0L
  val jobSpans = ArrayBuffer[(Int, Long, Long, String)]()
  // persist
  var persistOutputBytes = 0L
  val labeledSpans = ArrayBuffer[(Long, Long)]()
  var filesWritten = 0L
  // stream
  var batches = 0L
  var addBatchMs, queryPlanningMs, walCommitMs, commitOffsetsMs, sourceMs = 0L
  var stateCommitMs, stateRows, triggerMs, streamWallMs = 0L

  def wallMs: Long = endMs - startMs
  def jobUnionMs: Long = Trace.unionMs(jobSpans.map(s => (s._2, s._3)).toSeq, startMs, endMs)
  def labeledMs: Long = Trace.unionMs(labeledSpans.toSeq, startMs, endMs)
  def gapMs: Long = math.max(0L, wallMs - jobUnionMs)
}

/** Bench-owned listeners for the traced run: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batch phases). The closed loop runs one
  * operation at a time and the listener bus is drained after each one, so
  * every event lands on the operation that caused it. Spans are kept in
  * memory and written out when the run ends.
  */
final class Trace(spark: SparkSession, dataFiles: () => Set[java.nio.file.Path]) {
  @volatile private var cur: OpCost = new OpCost("(idle)", -1)
  private var filesBefore = Set.empty[java.nio.file.Path]
  val ops = ArrayBuffer[OpCost]()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val labeledStages = mutable.Set[Int]()
  private val stageSpans = ArrayBuffer[String]()
  private val batchSpans = ArrayBuffer[String]()
  private val queryStart = mutable.Map[String, Long]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart(e.jobId) = (e.time, desc)
      if (Trace.isLabeled(desc)) labeledStages ++= e.stageIds
      if (desc.startsWith("Listing leaf files")) cur.listingJobs += 1
      cur.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, desc) =>
        cur.jobSpans += ((e.jobId, t0, e.time, desc))
        if (Trace.isLabeled(desc)) cur.labeledSpans += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val s = e.stageInfo
      cur.stages += 1
      stageSpans += Main.jsonObj("kind" -> "stage", "op" -> cur.op, "pass" -> cur.pass,
        "stage" -> s.stageId, "tasks" -> s.numTasks,
        "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      cur.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.inputBytes += m.inputMetrics.bytesRead
        cur.inputRows += m.inputMetrics.recordsRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.resultBytes += m.resultSize
        if (labeledStages.contains(e.stageId))
          cur.persistOutputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      cur.actions += 1
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.physicalMs += ms("planning")
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Trace.this.synchronized {
      queryStart(e.runId.toString) = System.currentTimeMillis()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def ms(k: String): Long = d.getOrElse(k, 0L)
      cur.batches += 1
      cur.addBatchMs += ms("addBatch")
      cur.queryPlanningMs += ms("queryPlanning")
      cur.walCommitMs += ms("walCommit")
      cur.commitOffsetsMs += ms("commitOffsets")
      cur.sourceMs += ms("latestOffset") + ms("getBatch")
      cur.triggerMs += ms("triggerExecution")
      p.stateOperators.foreach { s =>
        cur.stateCommitMs += s.commitTimeMs
        cur.stateRows += s.numRowsTotal
      }
      batchSpans += Main.jsonObj("kind" -> "batch", "op" -> cur.op, "pass" -> cur.pass,
        "run" -> p.runId.toString, "batch" -> p.batchId,
        "trigger_ms" -> ms("triggerExecution"), "rows" -> p.numInputRows)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Trace.this.synchronized {
      queryStart.remove(e.runId.toString).foreach { t0 =>
        cur.streamWallMs += System.currentTimeMillis() - t0
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Open an operation's span; its job group carries the operation id. */
  def begin(op: String, pass: Int): Unit = {
    val c = new OpCost(op, pass)
    heapPools.foreach(_.resetPeakUsage())
    filesBefore = dataFiles()
    spark.sparkContext.setJobGroup(s"$op#$pass", op)
    c.startMs = System.currentTimeMillis()
    cur = c
  }

  /** Close the span once every event the operation caused is delivered. */
  def end(ok: Boolean): Unit = {
    val c = cur
    c.endMs = System.currentTimeMillis()
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    c.ok = ok
    c.heapPeakBytes = heapPools.map(_.getPeakUsage.getUsed).sum
    c.filesWritten = (dataFiles() -- filesBefore).size.toLong
    synchronized { ops += c; cur = new OpCost("(idle)", -1) }
  }

  def spanLines: Seq[String] = synchronized {
    ops.toSeq.flatMap { c =>
      Main.jsonObj("kind" -> "op", "op" -> c.op, "pass" -> c.pass, "ok" -> c.ok,
        "start" -> c.startMs, "end" -> c.endMs) +:
        c.jobSpans.toSeq.map { case (id, t0, t1, desc) =>
          Main.jsonObj("kind" -> "job", "op" -> c.op, "pass" -> c.pass, "job" -> id,
            "start" -> t0, "end" -> t1, "desc" -> desc.take(80))
        }
    } ++ stageSpans ++ batchSpans
  }
}

object Trace {
  /** Jobs run under ManifestedPartitions.labeled (persisted-index writes). */
  def isLabeled(desc: String): Boolean =
    desc.startsWith("writeGen ") || desc.startsWith("sidecar ") ||
      desc.startsWith("ivfpq:")

  /** Length of the union of `spans`, clipped to [lo, hi]. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
