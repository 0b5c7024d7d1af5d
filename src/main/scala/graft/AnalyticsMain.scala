package graft

import graft.etl.CleanPipeline
import graft.mining.MiningPipelines
import graft.olap.{OlapQueries, TimeDims}

/** E2+E3 batch entry point (reference: olap_analysis.py + datamining_
  * analysis.py module mains): raw stock CSVs in, the eight OLAP + mining
  * result tables out, one CSV each — the full downstream of the warehouse.
  *
  * Usage: runMain graft.AnalyticsMain <rawDir> <outDir>
  */
object AnalyticsMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(s"usage: %s <rawDir> <outDir>".format(getClass.getName.stripSuffix("$")))
      sys.exit(2)
    }
    val Array(rawDir, outDir) = args
    val spark = GraftSession.build()

    val fact = TimeDims.withTimeDims(
      TimeDims.fromYear(CleanPipeline.clean(spark, rawDir), 2024)).cache()
    val ts = OlapQueries.tickers(fact)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/$name")
      println(s"[analytics] wrote $name")
    }

    dump("01_quarterly_price", OlapQueries.quarterlyPrice(fact, ts))
    dump("02_growth_24_25", OlapQueries.yearlyGrowth(fact))
    dump("03_monthly_volume", OlapQueries.monthlyVolume(fact, ts))
    dump("04_stats_2025", OlapQueries.stats(fact, 2025))
    dump("05_regression_same_day", MiningPipelines.regressionSameDay(spark, fact))
    dump("06_regression_next_day", MiningPipelines.regressionNextDay(spark, fact))
    dump("07_kmeans_clusters", MiningPipelines.kmeansClusters(spark, fact))
    dump("08_anomalies", MiningPipelines.anomalies(fact))
    spark.stop()
  }
}
