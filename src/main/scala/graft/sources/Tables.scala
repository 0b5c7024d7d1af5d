package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table registry and the one testdata table reader. It also
  * registers every star-schema parquet as a temp view so the whole catalog
  * is reachable through plain `spark.sql(...)` text — the SQL front door a
  * warehouse user expects alongside the DataFrame API (SqlInterfaceSpec
  * proves DataFrame/SQL parity).
  */
object Tables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read table `name` of `dir`. Every table but `events` reads with the
    * schema Spark inferred on the first read of its file identity (see
    * [[ArtifactCache.parquetSchema]]), so a repeat read starts no Spark
    * job; a rewritten file is inferred again.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events")
      // footer-driven read: ts lands as epoch-µs BIGINT whatever
      // timestamp unit the file carries (see sources.EventsTs)
      EventsTs.read(spark, dir)
    else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(ArtifactCache.parquetSchema(spark, path)).parquet(path)
    }

  /** Register all tables of `dir` as temp views. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
