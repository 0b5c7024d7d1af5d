package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.{ManifestedPartitions => MP, VersionedView}

/** TWO-PROCESS CAS race (r18): the thread-based race gates prove the
  * protocol under concurrent callers in ONE JVM; this drives it across
  * TWO SEPARATE JVM PROCESSES sharing nothing but the index root — the
  * literal deployment shape of "a stream-writer job and a scheduled
  * maintenance job on one artifact". The parent launches a child JVM
  * (own SparkSession) that appends R batches through the DEFAULT API
  * while the parent appends R of its own; the link(2) marker CAS is a
  * kernel-level primitive, so exactly-one-winner holds across process
  * boundaries identically. Verified after both finish: a GAPLESS
  * one-winner-per-version chain of 2R+1 commits and every row from both
  * processes present in the final snapshot.
  *
  * Usage: runMain graft.tools.CasTwoProcessRace [rounds]
  * (child mode: --child <root> <rounds> — internal)
  */
object CasTwoProcessRace {

  private def appendLoop(spark: SparkSession, root: String, base: Int,
      rounds: Int): Unit = {
    import spark.implicits._
    (0 until rounds).foreach { r =>
      MP.append(spark, root, "d", "p",
        Seq((base + r) -> (r % 4)).toDF("x", "p"))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--child")) {
      val (root, rounds) = (args(1), args(2).toInt)
      val spark = GraftSession.build()
      // handshake: tell the parent this JVM's session is warm so the
      // append loops genuinely overlap instead of racing a cold start
      Files.writeString(Paths.get(root, "_child_ready"), "up")
      while (!Files.exists(Paths.get(root, "_go"))) Thread.sleep(50)
      appendLoop(spark, root, 2000, rounds)
      spark.stop()
      return
    }
    val rounds = args.headOption.map(_.toInt).getOrElse(8)
    val spark = GraftSession.build()
    import spark.implicits._
    val stage = Files.createTempDirectory("graft_cas_2proc")
    val root = stage.toString
    try {
      MP.init(Seq((0, 0)).toDF("x", "p"), root, "d", "p")
      // the child is a SEPARATE java process: same classes, own JVM, own
      // SparkSession — it shares ONLY the filesystem root with us
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cp = "target/scala-2.13/classes:/opt/spark/jars/*"
      val cmd = (Seq(
        s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++ Seq(
        "-Djava.awt.headless=true", "-Xmx4g", "-cp", cp,
        "graft.tools.CasTwoProcessRace", "--child", root,
        rounds.toString)).toList
      import scala.jdk.CollectionConverters._
      val childLog = stage.resolve("child.log").toFile
      val child = new ProcessBuilder(cmd.asJava)
        .redirectOutput(childLog).redirectErrorStream(true).start()
      // wait for the child session, then fire both loops together
      val t0 = System.currentTimeMillis()
      while (!Files.exists(Paths.get(root, "_child_ready"))) {
        require(System.currentTimeMillis() - t0 < 120000,
          "child JVM did not come up")
        Thread.sleep(100)
      }
      Files.writeString(Paths.get(root, "_go"), "go")
      appendLoop(spark, root, 1000, rounds)
      require(child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      require(child.exitValue() == 0,
        s"child JVM failed (exit ${child.exitValue()}) — " +
          s"log: ${childLog.getAbsolutePath}")
      val commits = 2 * rounds
      val versions = VersionedView.committedVersions(root)
      val gapless = versions == (1L to (commits + 1).toLong)
      val xs = MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
      val expected = (Seq(0) ++ (0 until rounds).map(1000 + _) ++
        (0 until rounds).map(2000 + _)).sorted
      val intact = xs == expected
      println(s"[cas-2proc] rounds=$rounds commits=$commits " +
        s"gapless=$gapless rows-intact=$intact " +
        s"versions=${versions.size}")
      require(gapless && intact,
        s"CROSS-PROCESS protocol violation: gapless=$gapless " +
          s"intact=$intact xs=$xs")
    } finally {
      graft.similarity.IvfIndex.deleteDir(root)
      spark.stop()
    }
  }
}
