package graft.etl

/** E1 batch entry point (reference: preprocess_stocks.py __main__, :232-234):
  * raw messy CSVs in, cleaned per-ticker + unified fact table out.
  *
  * Usage: runMain graft.etl.EtlMain <rawDir> <outDir>
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(s"usage: %s <rawDir> <outDir>".format(getClass.getName.stripSuffix("$")))
      sys.exit(2)
    }
    val Array(rawDir, outDir) = args
    val spark = graft.GraftSession.build()
    val cleaned = CleanPipeline.clean(spark, rawDir)
    CleanPipeline.writeCleaned(cleaned, outDir)
    // S8: JDBC fact-table persistence -- dormant unless a URL is provided,
    // mirroring the reference's commented-out MySQL block
    // (preprocess_stocks.py:221-225)
    sys.env.get("SPARK_GRAFT_JDBC_URL").foreach { url =>
      JdbcSink.writeTable(cleaned, url,
        sys.env.getOrElse("SPARK_GRAFT_JDBC_TABLE", "stock_fact"))
      println(s"[etl] persisted stock_fact via JDBC to $url")
    }
    println(s"[etl] wrote ${cleaned.count()} rows to $outDir")
    spark.stop()
  }
}
