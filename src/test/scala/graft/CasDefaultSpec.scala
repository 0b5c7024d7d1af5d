package graft

import java.nio.file.{Files, Paths}

import graft.similarity.IvfIndex
import graft.sources.{ManifestedPartitions => MP, VersionedView}

/** CAS-BY-DEFAULT commit protocol (r18, verdict order #1) + complete
  * marker bodies. Protocol-level pins independent of any index family:
  *
  *   - two INDEPENDENT writers racing the DEFAULT lifecycle APIs (no
  *     stageRewriteAt choreography) serialize: one winner per version,
  *     gapless chain, both writers' effects land — the REPLACE_EXISTING
  *     lost-update of the r17 protocol is structurally gone;
  *   - commit-time CARRY-FORWARD keeps every marker body COMPLETE: a
  *     long single-dataset-touching history resolves the untouched
  *     dataset with ZERO walk over older markers (proven by physically
  *     removing them), and every body of a mixed history holds every
  *     dataset, scalar and table key — also after retention GC;
  *   - scalar sidecars committed only below the horizon survive GC;
  *   - version-nonce sidecar-table directories are GC'd exactly when no
  *     retained marker references them.
  */
class CasDefaultSpec extends SparkSpec {

  import spark.implicits._

  private def df(rows: (Int, Int)*) = rows.toSeq.toDF("x", "p")

  test("two racing default-API writers serialize: one winner per " +
    "version, gapless chain, no lost update") {
    val stage = Files.createTempDirectory("graft_cas_race")
    val root = stage.toString
    try {
      MP.init(df(0 -> 0), root, "d", "p")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      // writer A appends 100+i, writer B appends 200+i — 3 barrier-aligned
      // rounds, so each round both jobs read the same latest version and
      // race its successor through MP.append's internal CAS retry
      def writer(base: Int) = new Thread(() =>
        try (0 until 3).foreach { i =>
          barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
          MP.append(spark, root, "d", "p", df((base + i) -> (i % 2)))
          ()
        } catch { case t: Throwable => errs.add(t) })
      val a = writer(100)
      val b = writer(200)
      a.start(); b.start()
      a.join(240000); b.join(240000)
      assert(errs.isEmpty, s"a racing writer failed: ${errs.peek()}")
      assert(VersionedView.committedVersions(root) == (1L to 7L),
        "version chain is not gapless with one winner per version")
      val xs = MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
      assert(xs == Seq(0, 100, 101, 102, 200, 201, 202),
        s"an acknowledged append was lost: $xs")
      // every committed body parses and carries the dataset's manifest
      (1L to 7L).foreach { v =>
        assert(VersionedView.markerBody(root, v).contains("\"d\":\""),
          s"version $v marker body lost the manifest")
      }
    } finally IvfIndex.deleteDir(root)
  }

  test("auto-carry-forward caps the walk at ZERO hops: a long " +
    "single-dataset history resolves the untouched dataset from the " +
    "HEAD marker alone (r17 order #5)") {
    val stage = Files.createTempDirectory("graft_cas_carry")
    val root = stage.toString
    try {
      // two datasets, a sidecar table and scalars under one v1 marker
      val e1 = MP.writeGen(df(1 -> 0), root, "a", "p", 1L)
      val e2 = MP.writeGen(df(7 -> 0), root, "b", "p", 1L)
      assert(MP.commitManifestsCas(spark, root, 1L,
        Map("a" -> e1, "b" -> e2),
        sidecarTables = Map("t" -> Seq(42L).toDF("n")),
        sidecarScalars = Map("stats" -> Seq("n" -> 5L))))
      // a 25-commit history touching ONLY dataset a through the default
      // API (the shape whose carry-forward chain used to grow unbounded)
      (0 until 25).foreach { i =>
        MP.append(spark, root, "a", "p", df((100 + i) -> 0))
      }
      val head = MP.latestVersion(root).get
      assert(head == 26L)
      assert(VersionedView.markerBody(root, head).contains("\"b\":\""),
        "auto-carry did not copy the untouched dataset into the head body")
      // the strongest form: physically remove every non-head marker — a
      // read that walked the chain would fail; 0-hop resolution succeeds
      val hidden = stage.resolve("_hidden_commits")
      Files.createDirectories(hidden)
      (1L until head).foreach { v =>
        Files.move(Paths.get(root, "_commits", v.toString),
          hidden.resolve(v.toString))
      }
      try {
        assert(MP.readEntries(spark, root, "b", head) == e2,
          "untouched dataset did not resolve from the head marker alone")
        assert(MP.readLatest(spark, root, "b", "p")
          .select("x").collect().map(_.getInt(0)).toSeq == Seq(7))
      } finally (1L until head).foreach { v =>
        Files.move(hidden.resolve(v.toString),
          Paths.get(root, "_commits", v.toString))
      }
      // a mixed history keeps EVERY body complete: a one-dataset rewrite
      // of b, then a compaction that rewrites only a (b is not
      // fragmented), then retention GC down to the head
      def assertComplete(): Unit =
        VersionedView.committedVersions(root).foreach { v =>
          val body = VersionedView.markerBody(root, v)
          Seq("a", "b", "~stats", "@t").foreach { k =>
            assert(body.contains("\"" + k + "\":\""),
              s"version $v body lacks key $k: $body")
          }
        }
      assert(MP.commitManifestsCas(spark, root, head + 1, Map("b" ->
        MP.stageRewriteAt(spark, root, "b", "p", Seq(0), identity,
          snapshotV = head, gen = head + 1))))
      assert(MP.compact(spark, root, Seq(("a", "p"), ("b", "p"))) == 1)
      assertComplete()
      val (expired, _) = MP.expire(spark, root,
        Seq(("a", "p"), ("b", "p")), keepLast = 1, inFlightGraceMs = 0L)
      assert(expired == (1L to head + 1))
      assert(VersionedView.committedVersions(root) == Seq(head + 2))
      assertComplete()
      assert(MP.readSidecarTable(spark, root, "t", head + 2)
        .collect()(0).getLong(0) == 42L)
      assert(MP.readSidecarScalars(root, "stats", head + 2)
        .contains(Map("n" -> 5L)))
      assert(MP.readLatest(spark, root, "a", "p").count() == 26)
      assert(MP.readLatest(spark, root, "b", "p")
        .select("x").collect().map(_.getInt(0)).toSeq == Seq(7))
    } finally IvfIndex.deleteDir(root)
  }

  test("dual delivery of the SAME batch by two racing writers commits " +
    "it exactly once: the loser re-checks the ledger and aborts") {
    import org.apache.spark.sql.functions._
    import graft.dedup.FunnelMv
    val stage = Files.createTempDirectory("graft_cas_dual")
    val root = stage.toString
    try {
      val base = Seq((1L, "the quick brown fox jumps over a lazy dog " +
          "and keeps on running far away"),
        (2L, "an entirely different document with plenty of distinct " +
          "words to pass every quality gate easily"))
        .toDF("doc_id", "text")
      val batch = Seq((3L, "a third document whose tokens are again " +
          "fresh and varied enough to survive the funnel stages"))
        .toDF("doc_id", "text")
      FunnelMv.writeVersioned(base, root, 8, 3, 0.9, 0.1, 0.9)
      // split-brain checkpoint shape: TWO writers deliver batch 7
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer() = new Thread(() =>
        try {
          barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
          outs.add(FunnelMv.ingestBatch(spark, root, batch, 7L, 8,
            3, 0.9, 0.1, 0.9))
          ()
        } catch { case t: Throwable => errs.add(t) })
      val a = writer(); val b = writer()
      a.start(); b.start(); a.join(240000); b.join(240000)
      assert(errs.isEmpty, s"a dual-delivery writer failed: ${errs.peek()}")
      // both writers return THE SAME committed version, the batch is in
      // the ledger exactly once, and the view counted it exactly once
      import scala.jdk.CollectionConverters._
      assert(outs.asScala.toSet.size == 1,
        s"dual delivery committed twice: ${outs.asScala.toSeq}")
      val head = graft.sources.ManifestedPartitions.latestVersion(root).get
      assert(head == 2L, s"expected exactly one batch commit, head=$head")
      val ledger = FunnelMv.readApplied(spark, root, head)
        .filter(col("batch_id") === 7L).count()
      assert(ledger == 1L, s"ledger holds the batch $ledger times")
      val inputDocs = FunnelMv.readView(spark, root, head)
        .filter(col("stage") === "input")
        .collect()(0).getAs[Long]("n_docs")
      assert(inputDocs == 3L,
        s"dual delivery double-counted the batch: input n_docs=$inputDocs")
    } finally IvfIndex.deleteDir(root)
  }

  test("expire ENRICHES the horizon marker: scalar sidecars committed " +
    "only below the horizon survive GC (ADVICE r17)") {
    val stage = Files.createTempDirectory("graft_cas_enrich")
    val root = stage.toString
    try {
      val e1 = MP.writeGen(df(1 -> 0), root, "d", "p", 1L)
      assert(MP.commitManifestsCas(spark, root, 1L, Map("d" -> e1),
        sidecarScalars = Map("stats" -> Seq("n" -> 5L, "t" -> 9L))))
      // a commit that does not pass the stats (the shape that was
      // poisoned after expire while bodies could omit keys)
      val e2 = MP.stageRewriteAt(spark, root, "d", "p", Seq(0),
        identity, snapshotV = 1L, gen = 2L)
      assert(MP.commitManifestsCas(spark, root, 2L, Map("d" -> e2)))
      val (expired, _) = MP.expire(spark, root, Seq(("d", "p")),
        keepLast = 1, inFlightGraceMs = 0L)
      assert(expired == Seq(1L))
      // the v2 marker carries the stats itself
      assert(MP.readSidecarScalars(root, "stats", 2L)
        .contains(Map("n" -> 5L, "t" -> 9L)),
        "expire did not pin the carried-forward scalars into the horizon")
    } finally IvfIndex.deleteDir(root)
  }

  test("sidecar-table GC: unreferenced version-nonce dirs are removed, " +
    "dirs a retained marker references survive — even across expired " +
    "version numbers") {
    val stage = Files.createTempDirectory("graft_cas_tablegc")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0), root, "d", "p",
        sidecars = Map("t" -> Seq(1L).toDF("n"))) // v1: @t -> v=1-<nonce>
      // v2 overrides the table; v3 auto-carries v2's reference
      MP.append(spark, root, "d", "p", df(2 -> 0),
        sidecars = Map("t" -> Seq(2L).toDF("n")))
      MP.append(spark, root, "d", "p", df(3 -> 0))
      def nonceDirs() = {
        val st = Files.list(stage.resolve("t"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString).toSet
        } finally st.close()
      }
      assert(nonceDirs().size == 2, s"expected 2 staged tables: ${nonceDirs()}")
      // keep v2+v3: v1's table (unreferenced by any retained marker) is
      // GC'd; v2's table — referenced by BOTH retained markers via
      // auto-carry — survives, and v3 still reads it
      MP.expire(spark, root, Seq(("d", "p")), keepLast = 2,
        inFlightGraceMs = 0L)
      assert(nonceDirs().size == 1,
        s"v1's unreferenced table dir survived GC: ${nonceDirs()}")
      assert(MP.readSidecarTable(spark, root, "t", 3L)
        .collect()(0).getLong(0) == 2L,
        "the auto-carried table reference broke after GC")
    } finally IvfIndex.deleteDir(root)
  }
}
