package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One catalog entry: a Spark query over the testdata star schema plus (where
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver hash-compares
  * against (SURVEY §5 item 3). Column names/ordering must match exactly.
  */
final case class QueryDef(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Load one testdata table. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Load the events table with `ts` normalized to epoch MICROSECONDS —
    * the footer-driven read (sources.EventsTs) that survives testdata
    * unit changes instead of trusting a declared unit.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventsTs.read(spark, dir)

  /** Cross-engine deterministic rounding. Spark's round() goes through
    * BigDecimal.valueOf (decimal-string semantics) while DuckDB rounds the
    * binary double — they disagree on values like 2.675. floor(x*1eN+0.5)/1eN
    * is the same IEEE op sequence in both engines, so results are
    * bit-identical as long as the unrounded inputs agree to well below the
    * rounding granularity. Pick N so granularity stays ≥ ~1e6× the expected
    * cross-engine error: r2 for price-magnitude values (~1e4), r4/r6 for
    * O(1) ratios.
    *
    * Domain: |x|·10^N must stay below ~9.2e18 — Spark's floor returns LONG
    * and saturates there, while DuckDB's floor stays double (observed on an
    * exp() blow-up at sf0.001). Keep rounded expressions numerically
    * bounded.
    */
  def r2(c: Column): Column = floor(c * 1e2 + lit(0.5)) / 1e2
  def r4(c: Column): Column = floor(c * 1e4 + lit(0.5)) / 1e4
  def r6(c: Column): Column = floor(c * 1e6 + lit(0.5)) / 1e6

  /** Same rounding, DuckDB spelling. */
  def sqlR2(e: String): String = s"floor(($e)*1e2+0.5)/1e2"
  def sqlR4(e: String): String = s"floor(($e)*1e4+0.5)/1e4"
  def sqlR6(e: String): String = s"floor(($e)*1e6+0.5)/1e6"

  /** Order-independent exact sum: per-row doubles are bit-identical across
    * engines, casting them to DECIMAL(28,6) is deterministic, and decimal
    * addition is exact — so the sum is bit-identical no matter how either
    * engine partitions/orders the data. Cast back to double at the end.
    */
  def sumE(c: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double")
  def sqlSumE(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(28,6))) AS DOUBLE)"

  /** Exact average: exact sum ÷ count, one double division in both engines. */
  def avgE(c: Column): Column = sumE(c) / count(c)
  def sqlAvgE(e: String): String = s"(${sqlSumE(e)} / count($e))"

  /** High-precision variant for O(1) ratio values, where DECIMAL(28,6)'s
    * 1e-6 granularity would visibly truncate: DECIMAL(38,18) keeps the
    * order-independence (decimal addition is exact) with 1e-18 granularity,
    * far below any rounding the result feeds.
    */
  def avgE18(c: Column): Column =
    sum(c.cast("decimal(38,18)")).cast("double") / count(c)
  def sqlAvgE18(e: String): String =
    s"(CAST(sum(CAST(($e) AS DECIMAL(38,18))) AS DOUBLE) / count($e))"

  /** Portable DECIMAL→DOUBLE cast for |v| < 2^53. A plain cast is NOT
    * cross-engine bit-exact once the decimal's scaled integer exceeds 2^53:
    * Spark (BigDecimal.doubleValue) rounds the true decimal once, while
    * DuckDB converts the scaled integer to double and divides — two
    * roundings, observed 1 ulp apart at ~1e14·scale-6 (q_m14_anova r07/r08
    * hash failures). Splitting into integer part (exact in double below
    * 2^53) + fractional part (scaled integer < 10^scale, one correct
    * rounding each side) makes both engines produce the identical double.
    */
  def decD(c: Column): Column =
    floor(c).cast("double") + (c - floor(c)).cast("double")
  def sqlDecD(e: String): String =
    s"(CAST(floor($e) AS DOUBLE) + CAST(($e) - floor($e) AS DOUBLE))"

  /** Stage the `n` arrival slices of a streaming-gate feed with ONE
    * partitioned write instead of `n` sequential `coalesce(1)` writes
    * (r18 optimization: one source scan and one write commit instead of
    * `n` of each): `df` carries an integer `sliceCol` in [0, n), the
    * files land WITHOUT the slice column (partitionBy drops it), and each
    * slice's single part file is moved into `stage`, where `landSlice`
    * picks it up. Row ORDER within a slice file may differ from the
    * per-slice writes, but every consumer of these feeds is
    * row-order-insensitive by construction — the ingest operators
    * bucket/aggregate rows through their own repartition, and the probes
    * rank with deterministic tie-breaks — and the slice's row SET is
    * identical. A slice that holds no rows (possible at tiny scale
    * factors) falls back to the old per-slice write so the feed still
    * receives a schema-only parquet file, exactly as before.
    */
  def stageSlices(df: DataFrame, sliceCol: String, n: Int,
      stage: Path): Unit = {
    def movePart(dir: Path, to: Path): Unit = {
      val st = Files.list(dir)
      val part = try st.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get() finally st.close()
      Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
    }
    val tmp = stage.resolve("__slices")
    df.coalesce(1).write.mode("overwrite")
      .partitionBy(sliceCol).parquet(tmp.toString)
    (0 until n).foreach { i =>
      val d = tmp.resolve(s"$sliceCol=$i")
      if (Files.isDirectory(d)) movePart(d, stagedSlice(stage, i))
      else {
        val fb = stage.resolve(s"__slice_empty_$i")
        df.filter(col(sliceCol) === i).drop(sliceCol)
          .coalesce(1).write.mode("overwrite").parquet(fb.toString)
        movePart(fb, stagedSlice(stage, i))
      }
    }
  }

  private def stagedSlice(stage: Path, i: Int): Path =
    stage.resolve(f"slice$i%02d.parquet")

  /** Land slice `i` of `stageSlices(…, stage)` in the watched `feed`
    * directory (created if absent) as `b<i>.parquet`, with its mtime
    * pinned to 1000·(i+1) ms. Slices landed in ascending `i` thus carry
    * strictly ascending mtimes — the order in which FileStreamSource
    * replays them, one file per trigger under `maxFilesPerTrigger = 1`.
    */
  def landSlice(stage: Path, feed: Path, i: Int): Unit = {
    val dst = feed.resolve(f"b$i%02d.parquet")
    Files.createDirectories(feed)
    Files.move(stagedSlice(stage, i), dst,
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1000L * (i + 1)))
  }

  /** Run `f` with each `key -> value` of `kv` set on `s`'s session conf.
    * Once `withConf` returns or throws, every key holds the value it had
    * before the call again, and a key that had none is unset.
    */
  def withConf[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Run `f` with `n` shuffle partitions, restored by `withConf`.
    *
    * Stream-STATE width is a first-class knob, sized independently of the
    * batch job's shuffle width: a stateful streaming query creates one
    * state store per shuffle partition per stateful operator (a
    * stream-stream join keeps FOUR), and every micro-batch commits every
    * store — so an over-wide default buys nothing but store-commit
    * overhead at this key cardinality. Production streaming jobs pin this
    * per-query before the first run (it is sticky in the checkpoint);
    * here it is scoped to the query and restored after the sink drains.
    */
  def withStatePartitions[T](s: SparkSession, n: Int)(f: => T): T =
    withConf(s, "spark.sql.shuffle.partitions" -> n.toString)(f)

  /** A Scala double as a DuckDB literal that parses to the IDENTICAL
    * double. A bare decimal literal like `0.15384615384615385` parses as
    * DECIMAL(18,17) in DuckDB, and its decimal→double conversion goes
    * through a scaled integer ABOVE 2^53 — double-rounded, 1 ulp off the
    * correct parse (the q_f_macd r07/r08 hash failures: the fast-EMA α
    * itself differed between engines; RSI's α=1/14 survived only because
    * its scaled integer happens to be even ⇒ exactly representable).
    * An exponent suffix makes the literal parse as DOUBLE directly —
    * string→double parsing is correctly rounded in both engines.
    */
  def sqlD(x: Double): String = {
    val s = x.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }
}
