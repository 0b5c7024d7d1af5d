package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.{Dirs, ManifestedPartitions => MP, VersionedView}

/** CONTENTION soak for the CAS-by-default commit path (r18): the
  * data-axis soaks scale row volume, but the r18 protocol's new cost is
  * the COMMIT POINT — W independent writers racing one root serialize
  * through the link(2) CAS, and each lost race re-merges (append) or
  * re-stages (rewrite) before retrying. This drives W barrier-aligned
  * writers x R appends each through the DEFAULT API (maximum contention:
  * every round all W writers read the same latest version and race its
  * successor, so W-1 of them retry at least once) and reports wall clock
  * per committed version as W grows. Flat-ish per-commit cost and a
  * GAPLESS version chain with zero lost rows at every W = the protocol
  * serializes without collapsing; the r17 REPLACE_EXISTING path would
  * have "succeeded" faster — by silently losing W-1 of every round's
  * commits.
  *
  * Usage: runMain graft.tools.CasContentionSoak [writersList] [rounds]
  *   writersList: comma-separated writer counts (default "1,2,4,8")
  */
object CasContentionSoak {
  def main(args: Array[String]): Unit = {
    val writerCounts = args.headOption.getOrElse("1,2,4,8")
      .split(",").toSeq.map(_.trim.toInt)
    val rounds = if (args.length > 1) args(1).toInt else 6
    val spark = graft.GraftSession.build()
    import spark.implicits._

    writerCounts.foreach { w =>
      Dirs.scratch(s"graft_cas_w$w") { stage =>
        val root = stage.toString
        MP.init(Seq((0, 0)).toDF("x", "p"), root, "d", "p")
        val barrier = new java.util.concurrent.CyclicBarrier(w)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val t0 = System.nanoTime()
        val threads = (0 until w).map { wi =>
          new Thread(() =>
            try (0 until rounds).foreach { r =>
              barrier.await(240, java.util.concurrent.TimeUnit.SECONDS)
              MP.append(spark, root, "d", "p",
                Seq((1000 * wi + r) -> (r % 4)).toDF("x", "p"))
              ()
            } catch { case t: Throwable => errs.add(t) })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(600000))
        val wall = (System.nanoTime() - t0) / 1e9
        require(errs.isEmpty, s"writer failed at w=$w: ${errs.peek()}")
        val commits = w * rounds
        val versions = VersionedView.committedVersions(root)
        val gapless = versions == (1L to (commits + 1).toLong)
        val rows = MP.readLatest(spark, root, "d", "p").count()
        val intact = rows == commits + 1
        println(f"[cas-soak] writers=$w%2d commits=$commits%3d " +
          f"wall=$wall%7.2fs per-commit=${wall / commits}%5.2fs " +
          f"gapless=$gapless rows-intact=$intact")
        require(gapless && intact,
          s"protocol violation at w=$w: gapless=$gapless intact=$intact")
      }
    }
    spark.stop()
  }
}
