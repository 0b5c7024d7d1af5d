package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.similarity.IvfIndex
import graft.sources.{ManifestedPartitions => MP, VersionedView}

/** Optimistic-concurrency maintenance commits (q_s_ivf_occ_maint, r16):
  * the gate proves the serialized end state's VALUES; this spec pins the
  * protocol on hand-planted datasets:
  *   - exactly one of two racing writers wins the CAS, and the committed
  *     version's manifest is the WINNER's (the loser's staged generation
  *     is never referenced — the lost-update a replace-marker would have
  *     allowed is structurally impossible);
  *   - the loser's retry against the winner's snapshot lands BOTH
  *     writers' effects;
  *   - the abandoned staged generation is garbage: unreferenced by any
  *     committed manifest and physically removed by expire;
  *   - two default deletes of the same tombstones race cleanly: the loser
  *     re-plans on the winner's snapshot, finds nothing live and purges
  *     0, so the counts add up and no second version is committed.
  */
class OccMaintSpec extends SparkSpec {

  import spark.implicits._

  private def df(rows: (Int, Int)*) = rows.toSeq.toDF("x", "p")

  test("racing writers serialize: one CAS wins, loser retries on the " +
    "new snapshot, both effects land, abandoned generation is GC'd") {
    val stage = Files.createTempDirectory("graft_occ_spec")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 0, 3 -> 1), root, "d", "p") // v1 (parquet)
      MP.append(spark, root, "d", "p", df(4 -> 0))        // v2 (parquet)
      assert(MP.latestVersion(root).contains(2L))

      // W1: compact p=0 (fragmented by the append); W2: delete x=2 —
      // both staged against snapshot v2 with writer-unique generations
      val w1 = MP.stageRewriteAt(spark, root, "d", "p", Seq(0),
        identity, snapshotV = 2L, gen = 101L)
      val w2 = MP.stageRewriteAt(spark, root, "d", "p", Seq(0),
        _.filter(col("x") =!= 2), snapshotV = 2L, gen = 102L)

      assert(MP.commitManifestsCas(spark, root, 3L, Map("d" -> w1)), "W1 lost?")
      assert(!MP.commitManifestsCas(spark, root, 3L, Map("d" -> w2)),
        "W2's conflicting commit was NOT rejected — lost update")

      // v3 is the WINNER's manifest: references gen 101, never 102
      val v3 = MP.readEntries(spark, root, "d", 3L)
      assert(v3.exists(_.gen == 101L) && !v3.exists(_.gen == 102L),
        s"v3 manifest $v3 is not the winner's")
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 2, 3, 4), "winner's snapshot lost rows")

      // loser retries from v3 — both effects in v4
      val w2r = MP.stageRewriteAt(spark, root, "d", "p", Seq(0),
        _.filter(col("x") =!= 2), snapshotV = 3L, gen = 103L)
      assert(MP.commitManifestsCas(spark, root, 4L, Map("d" -> w2r)))
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 3, 4), "retry lost the delete or a compacted row")
      assert(MP.liveFiles(spark, root, "d", "p").values
        .forall(_.size == 1), "compaction effect lost in the retry")

      // the abandoned staged generation is unreferenced garbage…
      val g102 = stage.resolve("d").resolve("g=102")
      assert(Files.isDirectory(g102), "loser staged nothing — vacuous")
      (1L to 4L).foreach { v =>
        assert(!MP.readEntries(spark, root, "d", v).exists(_.gen == 102L),
          s"version $v references the abandoned generation")
      }
      // …but a never-committed generation could equally be a concurrent
      // writer's IN-FLIGHT stage (ADVICE r16): with the default grace
      // window the fresh directory SURVIVES GC…
      MP.expire(spark, root, Seq(("d", "p")), keepLast = 1)
      assert(Files.isDirectory(g102),
        "GC deleted a fresh never-committed generation inside the " +
          "in-flight grace window")
      // …and is collected once the horizon passes (grace 0 here — this
      // test provably has no concurrent writer)
      MP.expire(spark, root, Seq(("d", "p")), keepLast = 1,
        inFlightGraceMs = 0L)
      assert(!Files.exists(g102), "abandoned generation survived GC")
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 3, 4))
      // mixed history cleaned: below-horizon reads fail loudly
      intercept[IllegalArgumentException] {
        VersionedView.markerBody(root, 2L)
      }
    } finally IvfIndex.deleteDir(root)
  }

  test("END-TO-END concurrent maintenance: two threads stage AND commit " +
    "in parallel; exactly one wins the version, the loser retries, and " +
    "the final snapshot holds BOTH effects") {
    // the gate replays the race sequentially (deterministic values for
    // the oracle); this drives the same protocol with REAL overlap —
    // both writers read snapshot v2, stage writer-unique generations,
    // and race the v3 CAS from separate threads.
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val stage = Files.createTempDirectory("graft_occ_threads")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 0, 3 -> 1), root, "d", "p") // v1
      MP.append(spark, root, "d", "p", df(4 -> 0))        // v2
      val gate = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      // writer A: compaction of p=0; writer B: GDPR delete of x=2. Each
      // stages against v2, races v3, and on loss re-stages from v3.
      def writer(gen1: Long, gen2: Long,
          transform: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame): java.util.concurrent
          .Future[Boolean] =
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            val staged = MP.stageRewriteAt(spark, root, "d", "p", Seq(0),
              transform, snapshotV = 2L, gen = gen1)
            gate.await(30, TimeUnit.SECONDS)
            val won = MP.commitManifestsCas(spark, root, 3L, Map("d" -> staged))
            if (!won) {
              val restaged = MP.stageRewriteAt(spark, root, "d", "p",
                Seq(0), transform, snapshotV = 3L, gen = gen2)
              require(MP.commitManifestsCas(spark, root, 4L, Map("d" -> restaged)),
                "loser's retry at v4 failed — a third writer?")
            }
            won
          }
        })
      val fa = writer(201L, 203L, identity)
      val fb = writer(202L, 204L, _.filter(col("x") =!= 2))
      pool.shutdown()
      val (aWon, bWon) = (fa.get(120, TimeUnit.SECONDS),
        fb.get(120, TimeUnit.SECONDS))
      assert(aWon ^ bWon, s"expected exactly one v3 winner, got ($aWon,$bWon)")
      assert(MP.latestVersion(root).contains(4L))
      // BOTH effects landed regardless of who won: x=2 deleted, p=0 in
      // one file (the retry re-applied the loser's transform on the
      // winner's snapshot; identity ∘ delete == delete ∘ identity here)
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 3, 4), "an effect was lost in the concurrent race")
      assert(MP.liveStats(spark, root, "d").forall(_._2._1 == 1),
        "final snapshot left p=0 fragmented")
      // v3's manifest is exactly the winner's staged generation
      val v3gens = MP.readEntries(spark, root, "d", 3L).map(_.gen).toSet
      val winnerGen = if (aWon) 201L else 202L
      val loserGen = if (aWon) 202L else 201L
      assert(v3gens.contains(winnerGen) && !v3gens.contains(loserGen),
        s"v3 references $v3gens — not the winner's manifest")
    } finally IvfIndex.deleteDir(root)
  }

  test("racing deletes of the SAME tombstones (IvfIndex.delete, " +
    "FunnelMv.vacuum): neither throws, one purges every live tombstoned " +
    "row, the other re-plans on the winner's snapshot and purges 0") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    // both threads start together and run the whole default delete, so
    // they typically plan against the same snapshot and race its CAS
    def race(delete: () => Long): Seq[Long] = {
      val gate = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val futures = (0 until 2).map { _ =>
          pool.submit(new Callable[Long] {
            def call(): Long = {
              gate.await(30, TimeUnit.SECONDS)
              delete()
            }
          })
        }
        futures.map(_.get(240, TimeUnit.SECONDS))
      } finally pool.shutdown()
    }
    def check(counts: Seq[Long], live: Long, root: String): Unit = {
      assert(live > 0, "no tombstoned row was live — vacuous race")
      assert(counts.sum == live && counts.contains(0L),
        s"purge counts $counts for $live live tombstoned rows")
      assert(MP.latestVersion(root).contains(2L),
        "the losing delete committed a version of its own")
    }

    val e = spark.read.parquet(s"$sfCorrect/embeddings.parquet")
    val ivf = Files.createTempDirectory("graft_occ_delete_ivf")
    try {
      IvfIndex.write(e, "vec_id", "embedding", 8, ivf.toString) // v1
      // -1 matches nothing: only LIVE tombstoned rows count
      val ts = e.filter(pmod(col("vec_id"), lit(9)) === 4)
        .select(col("vec_id").as("id"))
        .union(Seq(-1L).toDF("id")).localCheckpoint(true)
      val tsIds = ts.collect().map(_.getLong(0)).toSet
      val live = MP.readLatest(spark, ivf.toString, "lists", "cell")
        .join(ts, Seq("id")).count()
      check(race(() => IvfIndex.delete(spark, ivf.toString, ts)), live,
        ivf.toString)
      assert(MP.readLatest(spark, ivf.toString, "lists", "cell")
        .filter(col("id").isInCollection(tsIds)).count() == 0,
        "a tombstoned vector survived the racing deletes")
    } finally IvfIndex.deleteDir(ivf.toString)

    val mv = Files.createTempDirectory("graft_occ_delete_mv")
    try {
      val idx = Seq((1L, 0, "A", 10L, true, true),
          (2L, 0, "B", 3L, false, false),
          (3L, 0, "C", 12L, true, false),
          (101L, 1, "A", 10L, true, true))
        .toDF("doc_id", "batch", "fp", "n_tok", "q", "qr")
      graft.dedup.FunnelMv.writeDocIndex(idx, mv.toString, 4) // v1
      val tombstones = Seq(1L, 2L, 999L).toDF("doc_id")
      check(race(() => graft.dedup.FunnelMv.vacuum(spark, mv.toString,
        tombstones)), 2L, mv.toString)
      assert(graft.dedup.FunnelMv.readDocIndex(spark, mv.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
        == Set(3L, 101L), "a tombstoned doc survived the racing vacuums")
    } finally IvfIndex.deleteDir(mv.toString)
  }

  test("tryMark CAS under a real multi-threaded race: exactly one winner " +
    "per version, the winner's body survives INTACT, no staging litter") {
    // ADVICE r16: the old shared staging path let a loser rewrite the
    // winner's just-linked marker body in place (hard link = same inode)
    // or delete the winner's staged file between write and link. This
    // races 8 threads through a barrier per version so the overlap is
    // real, then checks the committed body is bit-exactly ONE writer's.
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val stage = Files.createTempDirectory("graft_trymark_race")
    val root = stage.toString
    try {
      def bodyOf(i: Int, v: Long) = s"""{"writer":"$i","v":"$v","pad":"${"x" * 256}"}"""
      (1L to 8L).foreach { v =>
        val writers = 8
        val pool = Executors.newFixedThreadPool(writers)
        val gate = new CyclicBarrier(writers)
        val futures = (0 until writers).map { i =>
          pool.submit(new Callable[(Int, Boolean)] {
            def call(): (Int, Boolean) = {
              gate.await(20, TimeUnit.SECONDS)
              (i, VersionedView.tryMark(root, v, bodyOf(i, v)))
            }
          })
        }
        pool.shutdown()
        val done = futures.map(_.get(30, TimeUnit.SECONDS))
        val winners = done.filter(_._2)
        assert(winners.size == 1,
          s"v$v: expected exactly one CAS winner, got $winners")
        // the committed body is the winner's, UNTRUNCATED and UNREPLACED
        assert(VersionedView.markerBody(root, v) == bodyOf(winners.head._1, v),
          s"v$v: committed marker body is not the winner's intact body")
      }
      assert(VersionedView.committedVersions(root) == (1L to 8L),
        "race left a version uncommitted")
      // every loser cleaned up its own staging file; none touched another's
      import scala.jdk.CollectionConverters._
      val st = Files.list(stage.resolve("_commits"))
      val litter = try st.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".")).toList
      finally st.close()
      assert(litter.isEmpty, s"staging litter left behind: $litter")
    } finally IvfIndex.deleteDir(root)
  }
}
