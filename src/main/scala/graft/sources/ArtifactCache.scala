package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side cache for what the engine derives from tiny immutable
  * parquet filesets: the COLLECTED form of artifacts (IVF centroids, PQ
  * codebooks) and the SCHEMA of testdata tables. The index lifecycle
  * re-reads its artifacts once per append/probe call, and every bare
  * `spark.read.parquet` infers its schema with a whole Spark job
  * (parallelize → footer read in a task → collect); both cost tens to
  * hundreds of ms to re-derive what the files held moments earlier.
  *
  * Same discipline as [[EventsTs]]'s footer cache — keyed by the REQUESTED
  * path (and the kind of value), storing the fileset identity (resolved
  * file|mtime|len list) alongside the value: any rewrite (rebuild,
  * overwrite, delete + re-create) changes the identity and REPLACES the
  * entry, so a stale value is never served. This is NOT result caching:
  * the cache holds bit-identical copies of what the files currently
  * contain, re-validated against the filesystem on every access, and
  * bounded by the number of distinct (kind, path) pairs alive in the
  * process.
  */
object ArtifactCache {

  /** The one Hadoop `Configuration` of the driver-side metadata readers
    * (this cache, [[EventsTs]]' footers, [[ManifestedPartitions]]' row
    * counts): constructing one per call re-parses the Hadoop XML defaults
    * (~8 ms), which dwarfs the sub-ms status or footer read it serves.
    */
  private[sources] lazy val hadoopConf: Configuration = new Configuration()

  // (kind, requested path) → (fileset identity, value)
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, AnyRef)]()

  /** `compute` for `path`, re-run whenever the fileset identity changes.
    * A missing path skips the cache entirely and lets `compute` fail (or
    * succeed) exactly as it would uncached.
    */
  private def memo[T <: AnyRef](kind: String, path: String)(
      compute: => T): T =
    filesetId(path) match {
      case None => compute // absent/unlistable: uncached, error surfaces as-is
      case Some(id) =>
        cache.compute((kind, path), (_, prev) => {
          if (prev != null && prev._1 == id) prev else (id, compute)
        })._2.asInstanceOf[T]
    }

  /** The collected form of the parquet artifact at `path`, recomputed via
    * `read` whenever the fileset identity changes.
    */
  def collected[T <: AnyRef](path: String)(read: => T): T =
    memo("collected", path)(read)

  /** Spark's own inferred schema of the parquet table at `path`
    * (`spark.read.parquet(path).schema`, nullability and metadata
    * included), inferred once per fileset identity and per set of the
    * session's parquet settings: a session that infers differently (e.g.
    * `spark.sql.parquet.binaryAsString`) never sees another's schema.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val parquetConf = spark.conf.getAll.filter(_._1.contains("parquet"))
      .toSeq.sorted.mkString(",")
    memo(s"schema|$parquetConf", path)(spark.read.parquet(path).schema)
  }

  // resolved parquet fileset identity under `path` (file|mtime|len,
  // name-sorted) — Hadoop-FS so hdfs:// and s3a:// resolve like the read.
  // A partitioned directory holds no top-level parquet file, so it has no
  // identity and is never cached.
  private def filesetId(path: String): Option[String] = {
    val p = new HPath(path)
    try {
      val fs = p.getFileSystem(hadoopConf)
      val st = fs.getFileStatus(p)
      val files =
        if (!st.isDirectory) Array(st)
        else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      if (files.isEmpty) None
      else Some(files.sortBy(_.getPath.getName)
        .map(f => s"${f.getPath}|${f.getModificationTime}|${f.getLen}")
        .mkString("||"))
    } catch { case _: java.io.FileNotFoundException => None }
  }
}
