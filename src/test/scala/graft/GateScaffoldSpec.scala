package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.queries.QueryDef
import graft.sources.Dirs

/** The gate scaffold each stateful gate shares: scoped scratch
  * directories, scoped session conf and ordered feed landing — plus a
  * guard that no catalog or tool creates a temporary directory outside
  * the one scoped helper again.
  */
class GateScaffoldSpec extends SparkSpec {

  test("Dirs.scratch removes its directory after a return") {
    var seen: Path = null
    val got = Dirs.scratch("graft_scaffold_ok") { d =>
      seen = d
      Files.writeString(Files.createDirectories(d.resolve("a/b"))
        .resolve("f.txt"), "x")
      42
    }
    assert(got == 42)
    assert(seen.getFileName.toString.startsWith("graft_scaffold_ok"))
    assert(!Files.exists(seen), s"$seen survived the scope")
  }

  test("Dirs.scratch removes its directory after a throw and rethrows " +
    "the caller's exception unchanged") {
    var seen: Path = null
    val boom = new IllegalStateException("boom")
    val caught = intercept[IllegalStateException] {
      Dirs.scratch("graft_scaffold_throw") { d =>
        seen = d
        Files.writeString(d.resolve("f.txt"), "x")
        throw boom
      }
    }
    assert(caught eq boom)
    assert(!Files.exists(seen), s"$seen survived the scope")
  }

  private val setKey = "graft.test.scaffold.set"
  private val unsetKey = "graft.test.scaffold.unset"

  test("withConf restores a set key and leaves an unset key unset, " +
    "on return and on throw") {
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      val inside = QueryDef.withConf(spark, setKey -> "in",
          unsetKey -> "in") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(inside == ("in", "in"))
      assert(spark.conf.getOption(setKey).contains("before"))
      assert(spark.conf.getOption(unsetKey).isEmpty)

      val boom = new RuntimeException("boom")
      val caught = intercept[RuntimeException] {
        QueryDef.withConf(spark, setKey -> "in", unsetKey -> "in") {
          throw boom
        }
      }
      assert(caught eq boom)
      assert(spark.conf.getOption(setKey).contains("before"))
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("withStatePartitions scopes the shuffle width") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = QueryDef.withStatePartitions(spark, 3) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside == "3")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("landed feed files carry strictly ascending mtimes in landing " +
    "order and each holds its slice") {
    Dirs.scratch("graft_scaffold_feed") { stage =>
      val n = 4
      QueryDef.stageSlices(
        spark.range(40).withColumn("slice", pmod(col("id"), lit(n))),
        "slice", n, stage)
      val feed = stage.resolve("feed")
      val landed = (0 until n).map { i =>
        QueryDef.landSlice(stage, feed, i)
        feed.resolve(f"b$i%02d.parquet")
      }
      val mtimes = landed.map(Files.getLastModifiedTime(_).toMillis)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
        s"mtimes not strictly ascending: $mtimes")
      landed.zipWithIndex.foreach { case (f, i) =>
        val ids = spark.read.parquet(f.toString).collect().map(_.getLong(0))
        assert(ids.sorted.toSeq == (i until 40 by n).map(_.toLong))
      }
    }
  }

  // The process-lifetime staging caches: each directory lives until the
  // JVM exits (EventsCatalog.stagedEventsDir, MultimodalCatalog
  // .binaryStageDir), so no scope can own it.
  private val cachePrefixes =
    Seq("graft_stream_events", "graft_stream_hb", "graft_bin_media")

  test("no createTempDirectory outside Dirs.scratch and the staging caches") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val st = Files.walk(root)
    val files = try st.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally st.close()
    val offenders = for {
      f <- files if f.getFileName.toString != "Dirs.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("createTempDirectory") &&
        !cachePrefixes.exists(p => line.contains(s"\"$p\""))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, "scope these with Dirs.scratch:\n" +
      offenders.mkString("\n"))
  }
}
