package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.queries.QueryDef
import graft.sources.{ArtifactCache, Dirs, Tables}

/** The one testdata table reader (`Tables.load`, behind `QueryDef.t`):
  * it reads with the schema Spark inferred on the first read of a file
  * identity, so a repeat read starts no schema-inference job, the schema
  * is Spark's own, a rewritten table is inferred again, and a session
  * whose parquet settings infer differently gets its own schema.
  */
class TableReadSpec extends SparkSpec {

  test("a repeat read of an unchanged table starts no Spark job") {
    QueryDef.t(spark, sfSmoke, "lineitem")
    val (df, jobs) = jobsOf(QueryDef.t(spark, sfSmoke, "lineitem"))
    assert(jobs.isEmpty, s"${jobs.size} job(s) building the frame")
    assert(df.count() == spark.read.parquet(s"$sfSmoke/lineitem.parquet")
      .count())
  }

  test("every table but events reads with Spark's inferred schema") {
    Tables.names.filterNot(_ == "events").foreach { n =>
      val want = spark.read.parquet(s"$sfSmoke/$n.parquet").schema
      assert(Tables.load(spark, sfSmoke, n).schema == want, n)
      assert(QueryDef.t(spark, sfSmoke, n).schema == want, n)
    }
  }

  test("a rewritten table shows its new column on the next read") {
    Dirs.scratch("graft_table_read") { d =>
      val path = s"$d/t.parquet"
      spark.range(5).toDF("a").write.parquet(path)
      assert(QueryDef.t(spark, d.toString, "t").columns.toSeq == Seq("a"))
      spark.range(5).selectExpr("id AS a", "id * 2 AS b")
        .write.mode("overwrite").parquet(path)
      val back = QueryDef.t(spark, d.toString, "t")
      assert(back.columns.toSeq == Seq("a", "b"))
      assert(back.selectExpr("sum(b)").first().getLong(0) == 20L)
    }
  }

  test("the schema follows the session's parquet settings") {
    Dirs.scratch("graft_table_read_bin") { d =>
      // a footer without Spark's own schema, so inference converts the
      // parquet types under the session's settings
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 id; optional binary payload; }")
      val w = ExampleParquetWriter
        .builder(new HPath(s"$d/b.parquet"))
        .withType(schema).build()
      try {
        val rows = new SimpleGroupFactory(schema)
        w.write(rows.newGroup().append("id", 1L)
          .append("payload", Binary.fromString("x")))
      } finally w.close()
      def payload = QueryDef.t(spark, d.toString, "b")
        .schema("payload").dataType
      assert(payload == BinaryType)
      QueryDef.withConf(spark, "spark.sql.parquet.binaryAsString" -> "true") {
        assert(payload == StringType)
      }
      assert(payload == BinaryType)
    }
  }

  test("a schema and a collected artifact of one path never share an entry") {
    Dirs.scratch("graft_table_read_kinds") { d =>
      val path = s"$d/k.parquet"
      spark.range(3).toDF("a").write.parquet(path)
      var reads = 0
      def rows = ArtifactCache.collected(path) {
        reads += 1
        spark.read.parquet(path).collect()
      }
      assert(rows.length == 3)
      assert(ArtifactCache.parquetSchema(spark, path).fieldNames.toSeq
        == Seq("a"))
      assert(rows.length == 3)
      assert(reads == 1)
    }
  }

  test("one Hadoop Configuration is constructed in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val st = Files.walk(root)
    val files = try st.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally st.close()
    val sites = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("new Configuration()") ||
        line.contains("new org.apache.hadoop.conf.Configuration()")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(sites.size <= 1, "share ArtifactCache.hadoopConf:\n" +
      sites.mkString("\n"))
  }
}
