package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.GraftSession

/** Intra-query job attribution: run one catalog query and print every
  * Spark job's wall-clock with its call site, so a multi-job lifecycle
  * gate's cost decomposes into phases (guide §1: measure first — the
  * bench gives per-QUERY seconds, this gives per-JOB seconds inside one).
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <name>[,<name>...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.build()
    case class Job(id: Int, desc: String, start: Long, var end: Long)
    val jobs = mutable.ArrayBuffer[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val p = Option(e.properties)
          def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
          val site = prop("callSite.short")
            .orElse(prop("spark.job.description"))
            .getOrElse(e.stageInfos.headOption.map(_.name.takeWhile(_ != ' '))
              .getOrElse("?"))
          jobs += Job(e.jobId, site, System.nanoTime(), 0L)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = System.nanoTime())
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass (codegen/JIT), then the measured pass — mirrors the
      // bench's steady-state estimator
      fn(spark, sfDir).count()
      GraftSession.clearCaches(spark)
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the last JobEnd land
      println(f"\n===== $name total=$total%.3fs jobs=${jobs.size} =====")
      val snap = jobs.synchronized(jobs.toVector)
      val spans = snap.map { j =>
        (j.desc, if (j.end > 0) (j.end - j.start) / 1e9 else Double.NaN)
      }
      // per-call-site totals, then the job timeline
      spans.groupBy(_._1).toSeq
        .map { case (d, xs) => (d, xs.map(_._2).sum, xs.size) }
        .sortBy(-_._2)
        .foreach { case (d, s, n) => println(f"  $s%8.3fs x$n%-4d $d") }
      val attributed = spans.map(_._2).filterNot(_.isNaN).sum
      println(f"  attributed=$attributed%.3fs (driver gap=${
        total - attributed}%.3fs)")
      // timeline with inter-job driver gaps — where the un-attributed
      // driver seconds sit (planning, collect decode, FS/commit work)
      println("  -- timeline (gap_before_ms, dur_ms, desc) --")
      var prevEnd = 0L
      snap.sortBy(_.start).foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e6
        val dur = if (j.end > 0) (j.end - j.start) / 1e6 else Double.NaN
        if (gap > 50 || dur > 100)
          println(f"    gap=$gap%7.0f dur=$dur%7.0f  ${j.desc}")
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
      }
      GraftSession.clearCaches(spark)
    }
    spark.stop()
  }
}
