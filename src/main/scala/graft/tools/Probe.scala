package graft.tools

import graft.GraftSession

/** Perf probe: run named catalog queries N times in one session, printing
  * per-iteration wall time — separates JVM/codegen warm-up from steady
  * state when chasing bench regressions. Usage:
  *   runMain graft.tools.Probe <sfDir> <reps> <name>[,<name>...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").toSeq
    val spark = GraftSession.build()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.clearCaches(spark)
        dt
      }
      println(f"PROBE $name%-24s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
