package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one session definition every entry point and the test suite share:
  * `local[cpus]` with as many shuffle partitions, UTC (matches the DuckDB
  * oracle), non-ANSI (pandas/DuckDB NULL semantics), no UI, and the
  * engine's optimizer rules installed — so the plans the oracle checks are
  * the plans the bench times. Logs are WARN and above, on stderr, from
  * `src/main/resources/log4j2.properties`.
  *
  * The rules go in through `spark.experimental.extraOptimizations`, not
  * `.withExtensions`: a spec can then take a rule out of that list and
  * compare the interpreted plan with the rewritten one.
  */
object GraftSession {

  /** The engine's optimizer rules, in the order they are installed; read
    * by [[build]] and by [[GraftExtensions]].
    */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    graft.functions.DotProductRewrite,
    graft.functions.Md5ChainRewrite,
    graft.functions.PqFoldRewrite)

  /** Entries of Spark's JVM-wide generated-class cache (a static conf,
    * default 100). One cold `Bench` pass at sf0.01 compiles 4,868
    * distinct classes (Metaspace 262 MB after it); at 100 entries a warm
    * pass over the 11 perfbench warehouse queries alone recompiles 142 of
    * the 153 its cold pass compiled. So the cache holds every class one
    * pass compiles, rounded up to a power of two.
    */
  private val CodegenCacheEntries: Long = 8192L

  /** `SPARK_GRAFT_CPUS` if set, else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session (or the live one `getOrCreate` hands back), with every
    * rule in [[rules]] installed once.
    */
  def build(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    rules.foreach(install(spark, _))
    spark
  }

  /** Idempotently add `rule` to a live session's extra optimizations. One
    * lock for every rule: the read-modify-write of the list must not
    * interleave with another rule's.
    */
  private[graft] def install(spark: SparkSession,
      rule: Rule[LogicalPlan]): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(rule))
      spark.experimental.extraOptimizations = cur :+ rule
  }

  /** Drop what a query pinned once it has run: cached frames and every
    * persisted RDD (operators localCheckpoint intermediates with no
    * CacheManager entry), so later queries in the same JVM do not inherit
    * its storage-memory pressure.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
