package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.FunnelMv
import graft.sources.ManifestedPartitions

/** VERSION-AXIS soak for the streaming funnel MV (r17, verdict order #1):
  * the data-axis soaks (tools.Soak) scale corpus volume at a FIXED batch
  * count, which is exactly the axis that hid the r16 layout's O(V)
  * per-batch fp-delta union. This drives B ledgered ingests of a
  * FIXED-SIZE batch against a fixed corpus — only the stream's AGE grows
  * — and prints per-batch wall clock. Flat early-vs-late means per-batch
  * cost is independent of version count; the r16 layout grew linearly
  * (every batch re-opened all prior fp-delta tables).
  *
  * Usage: runMain graft.tools.MvBatchSoak [batches] [cadence] [batchDocs]
  */
object MvBatchSoak {
  def main(args: Array[String]): Unit = {
    val batches = if (args.length > 0) args(0).toInt else 30
    val cadence = if (args.length > 1) args(1).toInt else 2
    val batchDocs = if (args.length > 2) args(2).toInt else 20
    val nBuckets = 256 // deployment-sized: a small batch probes few buckets
    val spark = graft.GraftSession.build()

    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").localCheckpoint(true)
    // fixed per-batch payload — only stream AGE varies across batches
    val payload = docs.filter(col("doc_id") < batchDocs)
      .localCheckpoint(true)
    val stage = java.nio.file.Files.createTempDirectory("graft_mv_bsoak")
    val root = stage.toString
    try {
      val t0 = System.nanoTime()
      FunnelMv.writeVersioned(docs, root, nBuckets, 8, 0.9, 0.1, 0.9)
      println(f"[mv-soak] base MV built in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"($batches batches x $batchDocs docs, compaction every $cadence)")
      val times = (0 until batches).map { b =>
        val batch = payload.select(
          (-(col("doc_id") * batches + lit(b + 1))).as("doc_id"),
          concat(col("text"), lit(s" mvsoak batch $b")).as("text"))
        val s0 = System.nanoTime()
        FunnelMv.ingestBatch(spark, root, batch, b.toLong, nBuckets,
          8, 0.9, 0.1, 0.9)
        if (b % cadence == cadence - 1) FunnelMv.compactFps(spark, root)
        val dt = (System.nanoTime() - s0) / 1e9
        println(f"[mv-soak] batch $b%3d  $dt%6.2f s")
        dt
      }
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      val early = mean(times.take(3))
      val late = mean(times.takeRight(3))
      val stats = ManifestedPartitions.liveStats(spark, root, FunnelMv.FpsData)
      val maxFiles = if (stats.isEmpty) 0 else stats.values.map(_._1).max
      println(f"[mv-soak] batches=$batches early(3)=$early%.2fs " +
        f"late(3)=$late%.2fs late/early=${late / early}%.2f " +
        s"maxLiveFilesPerBucket=$maxFiles (bound=${cadence + 1})")
    } finally graft.similarity.IvfIndex.deleteDir(root)
    spark.stop()
  }
}
