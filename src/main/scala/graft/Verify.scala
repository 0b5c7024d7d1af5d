package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened (round 12) after CORRECTNESS_r11.json came back `{}`:
  * oracle_sql.json is written FIRST, so a driver-side timeout or crash
  * mid-dump degrades to partial per-query results instead of zeroing the
  * whole round; aux dumps run before query dumps (oracles replay from
  * them); every dump logs its wall-clock to stderr so a hang is
  * attributable to one query; and queries run cheap-first so a truncated
  * run keeps the maximum number of greens.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyQuery,onlyQuery,...]
    // the optional filter restricts the QUERY dumps for fast local
    // iteration (the driver always calls with two args); aux dumps still
    // all run because oracles replay from them
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()

    // ---- oracle_sql.json FIRST ----------------------------------------
    // The substitution (__VERIFY_OUT__ → absolute outDir) is known before
    // any dump runs, so there is no reason to defer this write; deferring
    // it is exactly what turned a mid-run driver timeout into an empty
    // correctness artifact in round 11.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    // Aux dumps live in a SIBLING of outDir, not inside it: the driver
    // hash-scans every directory under outDir as a query result, so an
    // in-tree aux dir — even underscore-prefixed — shows up in the
    // correctness artifact as a pseudo-row with `err: no_oracle`
    // (CORRECTNESS_r12/_r13 key `_aux`; r13 verdict order #2). Oracle SQL
    // keeps writing `__VERIFY_OUT__/_aux/...`; the substitution below
    // points that prefix at this sibling path.
    val auxAbs = outAbs + "_auxdata"
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__VERIFY_OUT__/_aux", auxAbs)
          .replace("__VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    def timed(tag: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { body; System.err.println(
        f"[verify] $tag ok in ${(System.nanoTime() - t0) / 1e9}%.2fs") }
      catch { case e: Throwable => System.err.println(
        f"[verify] $tag FAILED in ${(System.nanoTime() - t0) / 1e9}%.2fs: " +
          s"${e.getMessage}") }
      GraftSession.clearCaches(spark)
    }

    // ---- aux dumps BEFORE query dumps ----------------------------------
    // Spark-computed intermediates the LSH oracles replay in DuckDB: if
    // the run is truncated, every oracle whose query DID dump must still
    // find its aux inputs. Written to the sibling auxAbs dir — provably
    // outside the driver's result glob (see the auxAbs note above).
    // clear the aux sibling first (ADVICE r14): individual dumps overwrite
    // their own subdirs, but a RENAMED/REMOVED aux entry would otherwise
    // leave a stale dump that an oracle still referencing the old name
    // silently replays against outdated data instead of failing loudly
    graft.sources.Dirs.delete(auxAbs)
    SparkEntry.auxDumps.foreach { case (name, fn) =>
      timed(s"aux $name") {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$auxAbs/$name")
      }
    }

    // ---- query dumps, cheap-first --------------------------------------
    SparkEntry.verifyOrder
      .filter(name => only.forall(_.contains(name)))
      .foreach { name =>
        val fn = SparkEntry.queries(name)
        timed(name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      }
    spark.stop()
  }
}
