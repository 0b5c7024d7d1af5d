package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Units-robust reader for the `events.ts` column.
  *
  * The engine's convention is `ts` as an epoch-MICROSECOND `BIGINT`
  * everywhere downstream (ordering, gap math, window buckets) — but what
  * the parquet file physically stores has changed between testdata
  * generations (TIMESTAMP(NANOS) through r6, timestamp[us] from r7). A
  * hand-written comment about the file's unit is not a contract: when the
  * unit flipped, every `ts div 1000` site silently squashed a 30-day
  * timeline into 43 minutes and only the oracle caught it.
  *
  * So the unit is read from the file itself: the parquet footer's logical
  * type annotation for `ts` decides the exact integer conversion to µs,
  * and anything unrecognized fails loudly instead of producing plausible
  * garbage. Footer reads are a few KB of I/O, cached per (file identity),
  * and happen on the driver — at 100 TB this is one footer per input
  * file listing, the same metadata Spark's own scan planning touches.
  *
  * Invariant: one timestamp unit per events table — ENFORCED. `conversion`
  * inspects every parquet footer under a directory and errors loudly if
  * the units disagree, so a multi-file table with mixed units can never
  * silently ride one file's conversion.
  */
object EventsTs {

  /** Exact integer conversion raw→µs: `us = raw div divToUs * mulToUs`
    * (exactly one of the two factors is ever ≠ 1). Integer `div` keeps
    * ns→µs truncation identical to engines without a ns timestamp type.
    */
  final case class Conv(divToUs: Long, mulToUs: Long) {
    def us(name: String): Column =
      if (divToUs == 1L && mulToUs == 1L) col(name)
      else if (divToUs == 1L) col(name) * lit(mulToUs)
      // Column has no integer-div operator and a double round-trip loses
      // precision at 1e18 ns magnitudes — go through SQL `div` (exact)
      else expr(s"$name div $divToUs")
  }

  // keyed by the REQUESTED path, storing the fileset identity (resolved
  // file|mtime|len list) alongside the conversion: a changed fileset
  // REPLACES its entry (re-inspect, never serve a superseded unit) rather
  // than stranding the old one — bounded by the number of distinct tables,
  // not by file churn underneath them
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Conv)]()

  /** The µs conversion for `path` (an events parquet file, or a directory
    * holding staged copies of one — the streaming-source layout). For a
    * directory, EVERY parquet footer underneath is inspected and the units
    * must all agree — a mixed-unit table errors loudly instead of silently
    * applying one file's conversion to the others (footers are a few KB of
    * driver-side metadata each, the same listing Spark's scan planning
    * already walks, so this stays cheap even on wide multi-file tables).
    */
  def conversion(path: String): Conv = {
    val conf = ArtifactCache.hadoopConf
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files = resolveParquet(fs, p)
    // fileset identity: any added/removed/rewritten file re-inspects
    // instead of serving a superseded unit
    val filesetId = files
      .map { f =>
        val st = fs.getFileStatus(f)
        s"${f.toString}|${st.getModificationTime}|${st.getLen}"
      }
      .mkString("||")
    cache.compute(path, (_, prev) => {
      if (prev != null && prev._1 == filesetId) prev
      else {
        val convs = files.map(f => f -> inspect(f, conf))
        val distinct = convs.map(_._2).distinct
        if (distinct.length > 1)
          sys.error("EventsTs: MIXED `ts` units across files of one table — " +
            "refusing to pick one (a wrong unit silently collapses the " +
            "timeline): " + convs.map { case (f, c) =>
              s"${f.getName}=div${c.divToUs}/mul${c.mulToUs}"
            }.mkString(", "))
        (filesetId, distinct.head)
      }
    })._2
  }

  /** Batch-read events with `ts` normalized to epoch µs. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = s"$dir/events.parquet"
    normalize(
      spark.read.schema(graft.model.Schemas.events).parquet(p), p)
  }

  /** Replace raw `ts` with its epoch-µs value (works on batch and
    * streaming frames alike — the conversion factor is resolved
    * driver-side from the footer before the plan runs).
    */
  def normalize(df: DataFrame, path: String): DataFrame =
    df.withColumn("ts", conversion(path).us("ts"))

  // Hadoop-FS path resolution (not java.nio) so hdfs:// and s3a:// URIs
  // resolve exactly like the footer read below. Returns ALL parquet files
  // (name-sorted) — the caller asserts their units agree.
  private def resolveParquet(fs: FileSystem, p: HPath): Seq[HPath] = {
    if (!fs.getFileStatus(p).isDirectory) Seq(p)
    else {
      val files = fs.listStatus(p).iterator
        .map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .toArray
        .sortBy(_.getName)
      if (files.isEmpty)
        sys.error(s"EventsTs: no parquet file under directory $p")
      files.toIndexedSeq
    }
  }

  private def inspect(file: HPath, conf: Configuration): Conv = {
    val in = HadoopInputFile.fromPath(file, conf)
    val reader = ParquetFileReader.open(in)
    val field =
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField("ts"))
          sys.error(s"EventsTs: $file has no `ts` column")
        // MessageType has both getType(String*) (vararg) and the inherited
        // GroupType.getType(String) — call through the parent type to pick
        // the single-name overload unambiguously
        (schema: GroupType).getType("ts")
      } finally reader.close()
    field.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.NANOS  => Conv(1000L, 1L)
          case LogicalTypeAnnotation.TimeUnit.MICROS => Conv(1L, 1L)
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Conv(1L, 1000L)
        }
      case null
          if field.isPrimitive &&
            field.asPrimitiveType().getPrimitiveTypeName ==
              PrimitiveType.PrimitiveTypeName.INT64 =>
        // Unannotated INT64 is what this engine's own sinks emit when they
        // write an already-normalized epoch-µs LongType `ts` (e.g. staged
        // streaming fixtures, re-written intermediate tables). By contract
        // that raw INT64 IS epoch-µs — identity conversion. Foreign files
        // with a different raw unit must carry a timestamp annotation.
        Conv(1L, 1L)
      case other =>
        // anything else carries no usable unit — refuse to guess: the
        // whole point is that a wrong unit produces silently-collapsed
        // timelines, not errors
        sys.error(s"EventsTs: unsupported `ts` logical type in $file: " +
          s"${Option(other).map(_.toString).getOrElse("none")}" +
          " — expected TIMESTAMP(NANOS|MICROS|MILLIS) or raw INT64 (µs)")
    }
  }
}
