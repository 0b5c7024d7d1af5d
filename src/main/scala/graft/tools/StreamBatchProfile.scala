package graft.tools

import org.apache.spark.sql.functions._

/** Per-micro-batch overhead decomposition for the streaming gates
  * (guide §1.5 instrumentation; r19 verdict order #1: "profile per-batch
  * planning before concluding it's floor").
  *
  * Runs a representative staged-feed stateful stream (the
  * q_e_restart_stream shape: N parquet slices, maxFilesPerTrigger=1,
  * complete-mode groupBy aggregate, pinned state partitions) and prints
  * the engine's own StreamingQueryProgress.durationMs breakdown per
  * batch — triggerExecution = addBatch (run the job) + queryPlanning
  * (incremental re-plan) + walCommit/commitOffsets (offset/commit logs)
  * + getBatch/latestOffset (source). This attributes the fixed per-batch
  * cost the bench sees on the 26 streaming gates to engine phases, so
  * "irreducible micro-batch machinery" is a measured claim, not a shrug.
  *
  * Usage: runMain graft.tools.StreamBatchProfile <sfDir> [nSlices]
  */
object StreamBatchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 4
    val spark = graft.GraftSession.build()
    import java.nio.file.{Files, Paths}
    val ev = graft.sources.EventsTs.read(spark, sfDir)
      .select(graft.model.Schemas.events.fieldNames.map(col): _*)
    val stage = Files.createTempDirectory("graft_stream_prof")
    val feed = stage.resolve("feed")
    Files.createDirectories(feed)
    graft.queries.QueryDef.stageSlices(
      ev.withColumn("slice", pmod(col("event_id"), lit(n))),
      "slice", n, stage, i => feed.resolve(f"b$i%02d.parquet"))
    (0 until n).foreach { i =>
      Files.setLastModifiedTime(feed.resolve(f"b$i%02d.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
    }
    val stateParts = sys.env.getOrElse("SBP_STATE_PARTS", "8").toInt
    spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    // two passes: cold (codegen/JIT) then warm — mirror the bench
    (1 to 2).foreach { rep =>
      val ckpt = stage.resolve(s"ckpt$rep")
      spark.catalog.dropTempView(s"sbp_sink$rep")
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          graft.queries.QueryDef.sumE(col("value")).as("total"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .format("memory").queryName(s"sbp_sink$rep")
        .start()
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"\n== rep $rep wall=$wall%.2fs (start→drain, $n slices) ==")
      val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
        "latestOffset", "walCommit", "commitOffsets", "addBatch")
      println(keys.mkString("batch rows ", " ", ""))
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): String =
          Option(d.get(k)).map(_.toString).getOrElse("-")
        val st = p.stateOperators.map(s =>
          s"state(commit=${s.commitTimeMs}ms upd=${s.allUpdatesTimeMs}ms " +
            s"rows=${s.numRowsTotal})").mkString(" ")
        println(f"${p.batchId}%5d ${p.numInputRows}%4d " +
          keys.map(ms).mkString(" ") + s"  $st")
      }
      val trig = q.recentProgress.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong)
          .getOrElse(0L)).sum
      println(f"sum(triggerExecution)=${trig}ms; " +
        f"outside-trigger=${wall * 1000 - trig}%.0fms " +
        "(query start/stop, drain polling)")
    }
    graft.similarity.IvfIndex.deleteDir(stage.toString)
    spark.stop()
  }
}
