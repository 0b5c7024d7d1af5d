package graft

import org.apache.spark.sql.functions._

import graft.sources.Dirs

/** Source/sink breadth: the engine round-trips its tables through every
  * bundled columnar/text format (parquet is the native path; ORC, JSON and
  * CSV must preserve the data exactly too).
  */
class SourceFormatsSpec extends SparkSpec {

  private lazy val li = spark.read.parquet(s"$sfSmoke/lineitem.parquet")
    .limit(500).cache()

  private def roundTrip(fmt: String, writeOpts: Map[String, String] = Map(),
      readOpts: Map[String, String] = Map()): Unit =
    Dirs.scratch(s"graft_$fmt") { d =>
      val dir = d.toString
      li.write.mode("overwrite").options(writeOpts).format(fmt).save(dir)
      var reader = spark.read.options(readOpts).format(fmt)
      if (fmt == "csv" || fmt == "json") reader = reader.schema(li.schema)
      val back = reader.load(dir)
      assertSameData(back, li, Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice"))
    }

  test("ORC round-trip")  { roundTrip("orc") }

  test("ORC range predicate reaches the reader as a pushed filter") {
    Dirs.scratch("graft_orc_push") { d =>
      li.select("l_orderkey", "l_shipdate", "l_quantity")
        .write.mode("overwrite").orc(d.toString)
      val filtered = spark.read.orc(d.toString)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp"))
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.replaceAll("\\s+", " ")
        .matches(".*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
        s"expected a pushed l_shipdate filter in:\n$plan")
    }
  }
  test("JSON round-trip") { roundTrip("json") }
  test("CSV round-trip") {
    roundTrip("csv",
      writeOpts = Map("header" -> "true",
        "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"),
      readOpts = Map("header" -> "true",
        "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
  }

  test("EventsTs rejects a multi-file table with MIXED ts units") {
    Dirs.scratch("graft_mixed_units") { d =>
      val ev = graft.sources.EventsTs.read(spark, sfSmoke).limit(50)
      // file 1: raw INT64 ts (the engine's own epoch-µs convention)
      ev.coalesce(1).write.mode("append").parquet(d.toString)
      // file 2: TIMESTAMP(MILLIS)-annotated ts — a different unit
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      try {
        ev.withColumn("ts", (col("ts") / 1000000L).cast("timestamp"))
          .coalesce(1).write.mode("append").parquet(d.toString)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      val ex = intercept[RuntimeException] {
        graft.sources.EventsTs.conversion(d.toString)
      }
      assert(ex.getMessage.contains("MIXED"), s"wrong error: ${ex.getMessage}")
    }
  }

  test("EventsTs accepts a multi-file table with UNIFORM ts units") {
    Dirs.scratch("graft_uniform_units") { d =>
      val ev = graft.sources.EventsTs.read(spark, sfSmoke).limit(50)
      ev.coalesce(1).write.mode("append").parquet(d.toString)
      ev.coalesce(1).write.mode("append").parquet(d.toString)
      val conv = graft.sources.EventsTs.conversion(d.toString)
      assert(conv == graft.sources.EventsTs.Conv(1L, 1L))
    }
  }

  test("streaming dedup drops the planted duplicate batch") {
    import graft.streaming.EventStreams
    Dirs.scratch("graft_dedup_stream") { d =>
      // stage via EventsTs.read so the fixture's raw-INT64 `ts` carries the
      // engine convention (epoch µs) that the reader's INT64 policy assumes
      val src = graft.sources.EventsTs.read(spark, sfSmoke)
      src.limit(200).write.mode("overwrite")
        .parquet(d.resolve("batch1").toString)
      // same 200 events again = exact duplicates
      val dedupDir = d.resolve("in")
      java.nio.file.Files.createDirectory(dedupDir)
      src.limit(200).coalesce(1).write.mode("append").parquet(dedupDir.toString)
      src.limit(200).coalesce(1).write.mode("append").parquet(dedupDir.toString)
      val deduped = EventStreams.dedupStream(spark, dedupDir.toString,
        Seq("event_id"))
      val got = EventStreams.runToMemory(spark, deduped, "dedup_stream")
      assert(got.count() == 200,
        s"expected 200 unique events, got ${got.count()}")
    }
  }

  test("partitioned parquet read prunes partitions at planning time") {
    Dirs.scratch("graft_part_spec") { d =>
      spark.read.parquet(s"$sfSmoke/lineitem.parquet")
        .withColumn("yr", year(col("l_shipdate")))
        .write.mode("overwrite").partitionBy("yr").parquet(d.toString)
      val pruned = spark.read.parquet(d.toString)
        .filter(col("yr") === 1995)
      val plan = pruned.queryExecution.executedPlan.toString
      // the year filter must resolve against directory metadata, not rows
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("\\s+", " ").matches(".*PartitionFilters:[^\\]]*yr[^\\]]*\\].*"),
        s"expected a partition filter on yr in:\n$plan")
      val expected = spark.read.parquet(s"$sfSmoke/lineitem.parquet")
        .filter(year(col("l_shipdate")) === 1995).count()
      assert(pruned.count() == expected)
    }
  }
}
