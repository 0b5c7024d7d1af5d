package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a traced operation's jobs, stages, tasks and stream
  * batches are all attributed to it before the next operation starts. The
  * listener bus is private to Spark; this object lives in Spark's package
  * only to reach it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
