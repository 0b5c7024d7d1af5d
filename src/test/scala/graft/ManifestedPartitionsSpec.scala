package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.FunnelMv
import graft.similarity.{IvfIndex, IvfPqIndex}
import graft.sources.{ManifestedPartitions => MP, VersionedView}
import graft.text.PostingsIndex

/** The generic manifest-committed partition layer (r16, verdict order #1)
  * every persisted index family now maintains itself through. Pins the
  * protocol-level claims independent of any one index:
  *   - init/append/rewrite produce the expected snapshots, and a reader
  *     PINNED to an old version keeps serving it bit-exactly while newer
  *     versions commit (snapshot isolation);
  *   - a TORN maintenance run — new generation staged, marker never
  *     written — is invisible: latest version, live entries, and reads
  *     are all unchanged, and re-running the maintenance to completion
  *     heals it (idempotent recommit);
  *   - multi-table commits (manifest + sidecar) resolve at one version:
  *     both visible or neither;
  *   - retention GC deletes dead (generation, partition) directories at
  *     partition granularity — a partially-referenced generation keeps
  *     its live partitions — and below-horizon reads fail LOUDLY;
  *   - the manifest-backed read starts no Spark job, has the schema and
  *     the partition-filtered rows of Spark's own read of the same
  *     directories, and a generation write runs wider than one task.
  */
class ManifestedPartitionsSpec extends SparkSpec {

  import spark.implicits._

  private def df(rows: (Int, Int)*) = rows.toSeq.toDF("x", "p")

  /** Spark's own read of `entries`' directories — the reference the
    * manifest-backed [[MP.read]] must match. */
  private def reference(root: String, dataName: String, partCol: String,
      entries: Seq[MP.Entry]): DataFrame =
    spark.read.option("basePath", s"$root/$dataName")
      .parquet(entries.map(e =>
        s"$root/$dataName/g=${e.gen}/$partCol=${e.part}"): _*)
      .drop("g")

  private def sortedRows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  test("init/append: snapshot-isolated reads; pinned version unchanged") {
    val stage = Files.createTempDirectory("graft_mp_basic")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 0, 3 -> 1), root, "d", "p")
      assert(MP.latestVersion(root).contains(1L))
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))

      MP.append(spark, root, "d", "p", df(4 -> 1, 5 -> 2))
      assert(MP.latestVersion(root).contains(2L))
      assert(MP.readLatest(spark, root, "d", "p").count() == 5)
      // a reader pinned to v1 is untouched by the append
      val v1 = MP.read(spark, root, "d", "p", MP.readEntries(spark, root, "d", 1L))
      assert(v1.select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 2, 3), "pinned v1 read saw appended rows")
      // pruned read: only partition 1's dirs are listed
      val p1 = MP.read(spark, root, "d", "p",
        MP.prunedEntries(spark, root, "d", Seq(1)))
      assert(p1.select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(3, 4))
    } finally IvfIndex.deleteDir(root)
  }

  test("torn rewrite is invisible and heals on re-run") {
    val stage = Files.createTempDirectory("graft_mp_torn")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 0, 3 -> 1), root, "d", "p")
      MP.append(spark, root, "d", "p", df(4 -> 0))
      val liveBefore = MP.liveFiles(spark, root, "d", "p")
      val rowsBefore = MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq

      // TORN compaction: generation 3 staged, marker never written —
      // the crash shape between the two halves of a maintenance op
      val (gen, merged) = MP.stageRewrite(spark, root, "d", "p",
        Seq(0), identity)
      assert(gen == 3L)
      assert(Files.isDirectory(stage.resolve("d").resolve("g=3")),
        "staging wrote nothing — torn test is vacuous")
      // invisible: version, live files, and reads are all unchanged
      assert(MP.latestVersion(root).contains(2L),
        "a torn run changed the committed version")
      assert(MP.liveFiles(spark, root, "d", "p") == liveBefore,
        "a torn run changed the live file set")
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq == rowsBefore,
        "a torn run changed read results")

      // healing: the re-run overwrites the staged generation and commits
      val (gen2, merged2) = MP.stageRewrite(spark, root, "d", "p",
        Seq(0), identity)
      assert(gen2 == gen)
      MP.commitManifests(spark, root, gen2, Map("d" -> merged2))
      assert(MP.latestVersion(root).contains(3L))
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq == rowsBefore,
        "completed compaction changed logical content")
      assert(MP.liveFiles(spark, root, "d", "p")(0).size == 1,
        "compaction left partition 0 fragmented")
      assert(merged == merged2)
    } finally IvfIndex.deleteDir(root)
  }

  test("sidecar tables commit atomically with the manifest") {
    val stage = Files.createTempDirectory("graft_mp_sidecar")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 1), root, "d", "p",
        sidecars = Map("stats" -> Seq(2L).toDF("n")))
      assert(MP.readSidecarTable(spark, root, "stats", 1L)
        .collect()(0).getLong(0) == 2L)
      // staged v2: a new generation written, marker withheld — a reader
      // resolves ONE committed version for manifest AND sidecar: v1
      val gen = MP.latestVersion(root).get + 1
      val merged = MP.readEntries(spark, root, "d", gen - 1) ++
        MP.writeGen(df(3 -> 1), root, "d", "p", gen)
      assert(VersionedView.latestVersion(root).contains(1L))
      // the CAS commit stages the updated sidecar WRITER-UNIQUE
      // (version-nonce dir referenced from the marker body) and lands
      // manifest + sidecar under one marker → both flip together
      assert(MP.commitManifestsCas(spark, root, gen, Map("d" -> merged),
        sidecarTables = Map("stats" -> Seq(3L).toDF("n"))))
      assert(VersionedView.latestVersion(root).contains(gen))
      assert(MP.readSidecarTable(spark, root, "stats", gen)
        .collect()(0).getLong(0) == 3L)
      // a reader pinned to v1 keeps its sidecar snapshot bit-exactly
      assert(MP.readSidecarTable(spark, root, "stats", 1L)
        .collect()(0).getLong(0) == 2L)
      assert(MP.readLatest(spark, root, "d", "p").count() == 3)
      // and a second writer racing the SAME version cannot clobber the
      // committed sidecar: its CAS fails and its staged table is garbage
      assert(!MP.commitManifestsCas(spark, root, gen, Map("d" -> merged),
        sidecarTables = Map("stats" -> Seq(99L).toDF("n"))))
      assert(MP.readSidecarTable(spark, root, "stats", gen)
        .collect()(0).getLong(0) == 3L)
    } finally IvfIndex.deleteDir(root)
  }

  test("expire: partition-granular GC, loud below-horizon reads") {
    val stage = Files.createTempDirectory("graft_mp_expire")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 1), root, "d", "p")
      MP.append(spark, root, "d", "p", df(3 -> 0)) // v2: p=0 fragments
      // the appended generation carries a writer-unique id (r18)
      val appendGen = MP.readEntries(spark, root, "d", 2L)
        .map(_.gen).filter(_ != 1L).head
      MP.compact(spark, root, Seq(("d", "p"))) // v3: p=0 rewritten to a new gen
      val latest = MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
      assert(latest == Seq(1, 2, 3))

      val (expired, removed) = MP.expire(spark, root, Seq(("d", "p")), 1)
      assert(expired == Seq(1L, 2L))
      // p=0's dead bytes in gen 1 and the appended gen are gone; p=1
      // still lives in gen 1 (partially-referenced generation kept at
      // partition granularity)
      assert(!Files.exists(stage.resolve("d").resolve("g=1").resolve("p=0")))
      assert(!Files.exists(stage.resolve("d").resolve(s"g=$appendGen")))
      assert(Files.isDirectory(stage.resolve("d").resolve("g=1").resolve("p=1")))
      assert(removed == 2)
      // the live snapshot is unaffected
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq == latest)
      // below-horizon access fails loudly, not half-served
      intercept[IllegalArgumentException] {
        MP.readEntries(spark, root, "d", 1L)
      }
      intercept[IllegalArgumentException] {
        VersionedView.readVersion(spark, root, 2L)
      }
    } finally IvfIndex.deleteDir(root)
  }

  test("manifest entries carry exact file/row statistics and planning " +
    "performs ZERO filesystem access on data directories") {
    val stage = Files.createTempDirectory("graft_mp_stats")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 0, 3 -> 1), root, "d", "p")
      MP.append(spark, root, "d", "p", df(4 -> 0, 5 -> 2)) // p=0 fragments
      // the manifest's per-entry statistics agree with the physical truth
      val entries = MP.readEntries(spark, root, "d", 2L)
      assert(entries.map(_.rows).sum == 5, s"row stats wrong: $entries")
      assert(entries.forall(_.files == 1),
        s"repartition(partCol) should give 1 file per (gen, part): $entries")
      val stats = MP.liveStats(spark, root, "d")
      assert(stats == Map(0 -> (2, 3L), 1 -> (1, 1L), 2 -> (1, 1L)),
        s"liveStats wrong: $stats")
      val live = MP.liveFiles(spark, root, "d", "p")
      assert(stats.map { case (p, (f, _)) => p -> f } ==
        live.map { case (p, fs) => p -> fs.size },
        "manifest file counts diverge from the listed files")

      // planning is PURE manifest arithmetic (r16 verdict order #4): hide
      // the entire data directory — fragmentation discovery and stats
      // still answer identically, proving no Files.list on data dirs
      val frag = MP.fragmentedParts(spark, root, "d", "p")
      assert(frag == Seq(0))
      Files.move(stage.resolve("d"), stage.resolve("d__hidden"))
      try {
        assert(MP.fragmentedParts(spark, root, "d", "p") == frag,
          "fragmentedParts touched the (hidden) data directories")
        assert(MP.liveStats(spark, root, "d") == stats,
          "liveStats touched the (hidden) data directories")
      } finally Files.move(stage.resolve("d__hidden"), stage.resolve("d"))
      // and the planned compaction then actually runs
      MP.compact(spark, root, Seq(("d", "p")))
      assert(MP.liveStats(spark, root, "d").forall(_._2._1 == 1),
        "compaction left a fragmented partition")
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 2, 3, 4, 5))
    } finally IvfIndex.deleteDir(root)
  }

  test("a fully-vacuumed snapshot stays readable: empty manifest reads " +
    "as a schema'd empty frame (ADVICE r16)") {
    val stage = Files.createTempDirectory("graft_mp_empty")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 1), root, "d", "p")
      // GDPR-delete EVERY row: both partitions empty out and drop from
      // the manifest — a legal, fully-vacuumed snapshot
      assert(MP.commitManifestsCas(spark, root, 2L, Map("d" ->
        MP.stageRewriteAt(spark, root, "d", "p", Seq(0, 1),
          _.filter(col("x") < 0), snapshotV = 1L, gen = 2L))))
      assert(MP.readEntries(spark, root, "d", 2L).isEmpty)
      val empty = MP.readLatest(spark, root, "d", "p")
      assert(empty.columns.toSeq == Seq("x", "p"),
        s"empty read lost the schema: ${empty.columns.toSeq}")
      assert(empty.count() == 0)
      // pruned probes of the vacuumed snapshot are empty too, not a crash
      assert(MP.read(spark, root, "d", "p",
        MP.prunedEntries(spark, root, "d", Seq(0))).count() == 0)
    } finally IvfIndex.deleteDir(root)
  }

  test("an OCC marker omitting a dataset CARRIES FORWARD the previous " +
    "version's entries — reads and retention GC keep working (ADVICE r16)") {
    val stage = Files.createTempDirectory("graft_mp_carry")
    val root = stage.toString
    try {
      // two datasets committed under one v1 marker
      val e1 = MP.writeGen(df(1 -> 0, 2 -> 1), root, "a", "p", 1L)
      val e2 = MP.writeGen(df(7 -> 0), root, "b", "p", 1L)
      MP.commitManifests(spark, root, 1L, Map("a" -> e1, "b" -> e2))
      // a commit touching ONLY dataset a (the shape that used to poison
      // readEntries/expire)
      val e1b = MP.stageRewriteAt(spark, root, "a", "p", Seq(0),
        identity, snapshotV = 1L, gen = 2L)
      assert(MP.commitManifestsCas(spark, root, 2L, Map("a" -> e1b)))
      // dataset b at v2 = its v1 entries, carried forward
      assert(MP.readEntries(spark, root, "b", 2L) == e2,
        "carry-forward read of the omitted dataset failed")
      assert(MP.readLatest(spark, root, "b", "p")
        .select("x").collect().map(_.getInt(0)).toSeq == Seq(7))
      // retention GC over BOTH datasets survives the subset marker and
      // keeps b's (still-live) generation
      val (expired, _) = MP.expire(spark, root,
        Seq(("a", "p"), ("b", "p")), keepLast = 1)
      assert(expired == Seq(1L))
      assert(MP.readLatest(spark, root, "b", "p").count() == 1,
        "GC deleted the carried-forward dataset's live generation")
      assert(MP.readLatest(spark, root, "a", "p").count() == 2)
    } finally IvfIndex.deleteDir(root)
  }

  test("reading a key the marker body lacks throws IllegalStateException " +
    "naming root, version and key — no walk back to earlier markers") {
    val stage = Files.createTempDirectory("graft_mp_missing")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0), root, "d", "p")
      MP.append(spark, root, "d", "p", df(2 -> 0))
      val noData = intercept[IllegalStateException] {
        MP.readEntries(spark, root, "nope", 2L)
      }
      assert(noData.getMessage.contains(root) &&
        noData.getMessage.contains("version 2") &&
        noData.getMessage.contains("nope"), noData.getMessage)
      val noTable = intercept[IllegalStateException] {
        MP.readSidecarTable(spark, root, "view", 2L)
      }
      assert(noTable.getMessage.contains("@view"), noTable.getMessage)
      assert(MP.readSidecarScalars(root, "stats", 2L).isEmpty)
    } finally IvfIndex.deleteDir(root)
  }

  test("expire shields a staged-but-uncommitted generation inside the " +
    "in-flight grace window (ADVICE r16)") {
    val stage = Files.createTempDirectory("graft_mp_grace")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 1), root, "d", "p")
      MP.append(spark, root, "d", "p", df(3 -> 0)) // v2
      // a concurrent writer's IN-FLIGHT stage: generation written, commit
      // not yet landed — exactly what GC must not eat
      val gen = MP.latestVersion(root).get + 1
      val merged = MP.readEntries(spark, root, "d", gen - 1) ++
        MP.writeGen(df(4 -> 1), root, "d", "p", gen)
      val g3p1 = stage.resolve("d").resolve(s"g=$gen").resolve("p=1")
      assert(Files.isDirectory(g3p1))
      val (expired, _) = MP.expire(spark, root, Seq(("d", "p")), 1)
      assert(expired == Seq(1L))
      assert(Files.isDirectory(g3p1),
        "GC deleted an in-flight staged generation — the writer's " +
          "imminent commit would point at missing directories")
      // the writer's commit lands and the staged bytes are all there
      MP.commitManifests(spark, root, gen, Map("d" -> merged))
      assert(MP.readLatest(spark, root, "d", "p")
        .select("x").collect().map(_.getInt(0)).sorted.toSeq
        == Seq(1, 2, 3, 4))
    } finally IvfIndex.deleteDir(root)
  }

  test("read over a 40-entry snapshot starts no Spark job: no listing, " +
    "no schema inference") {
    val stage = Files.createTempDirectory("graft_mp_nojob")
    val root = stage.toString
    try {
      MP.init(df((0 until 20).map(p => p -> p): _*), root, "d", "p")
      MP.append(spark, root, "d", "p", df((0 until 20).map(p => -p -> p): _*))
      val entries = MP.readEntries(spark, root, "d", 2L)
      assert(entries.size == 40)
      val (read, jobs) = jobsOf(MP.read(spark, root, "d", "p", entries))
      val descs = jobs.map(_.properties.getProperty("spark.job.description"))
      assert(jobs.size == 0, s"read started: $descs")
      assert(read.count() == 40)
    } finally IvfIndex.deleteDir(root)
  }

  test("read has the schema of Spark's inferred read, nullability " +
    "included, for every persisted-index dataset") {
    val e = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
    val idx = Seq((1L, 0, "A", 10L, true, true), (2L, 0, "B", 5L, true, false))
      .toDF("doc_id", "batch", "fp", "n_tok", "q", "qr")
    val stage = Files.createTempDirectory("graft_mp_schema")
    def at(name: String) = stage.resolve(name).toString
    try {
      IvfIndex.write(e, "vec_id", "embedding", 4, at("ivf"))
      IvfPqIndex.write(e, "vec_id", "embedding", 4, 64, 8, 16, at("ivfpq"))
      PostingsIndex.write(docs, "doc_id", "text", 4, at("bm25"))
      FunnelMv.writeVersioned(docs, at("mv"), 4, 3, 0.9, 0.1, 0.9)
      FunnelMv.writeDocIndex(idx, at("docs"), 4)
      Seq(("ivf", "lists", "cell"), ("ivfpq", "lists", "cell"),
          ("ivfpq", "raw", "rb"), ("bm25", "postings", "tb"),
          ("mv", "fps", "fpb"), ("docs", "docindex", "fpb")).foreach {
        case (r, dn, pc) =>
          val entries = MP.readEntries(spark, at(r), dn, 1L)
          val got = MP.read(spark, at(r), dn, pc, entries).schema
          val want = reference(at(r), dn, pc, entries).schema
          assert(got == want, s"$r/$dn: ${got.treeString} vs ${want.treeString}")
      }
    } finally IvfIndex.deleteDir(stage.toString)
  }

  test("read evaluates partition filters: a filtered read returns the " +
    "reference read's rows") {
    val stage = Files.createTempDirectory("graft_mp_pfilter")
    val root = stage.toString
    try {
      MP.init(df((0 until 12).map(i => i -> i % 6): _*), root, "d", "p")
      MP.append(spark, root, "d", "p", df(100 -> 1, 101 -> 4, 102 -> 5))
      val entries = MP.readEntries(spark, root, "d", 2L)
      val cases: Seq[DataFrame => DataFrame] = Seq(
        _.filter(col("p").isin(1, 4)),
        _.filter(col("p") > 3 && col("x") < 100),
        _.filter(col("p") === 7))
      cases.foreach { f =>
        val got = sortedRows(f(MP.read(spark, root, "d", "p", entries)))
        assert(got == sortedRows(f(reference(root, "d", "p", entries))))
      }
      assert(sortedRows(MP.read(spark, root, "d", "p", entries)
        .filter(col("p").isin(1, 4))) == Seq("[1,1]", "[10,4]", "[100,1]",
        "[101,4]", "[4,4]", "[7,1]"))
    } finally IvfIndex.deleteDir(root)
  }

  test("snapshot isolation: a frame built at v1 and collected after an " +
    "append commits v2 returns exactly v1's rows") {
    val stage = Files.createTempDirectory("graft_mp_isolation")
    val root = stage.toString
    try {
      MP.init(df(1 -> 0, 2 -> 1, 3 -> 2), root, "d", "p")
      val v1 = MP.readLatest(spark, root, "d", "p")
      MP.append(spark, root, "d", "p", df(4 -> 0, 5 -> 1, 6 -> 3))
      assert(MP.latestVersion(root).contains(2L))
      assert(sortedRows(v1) == Seq("[1,0]", "[2,1]", "[3,2]"))
      assert(MP.readLatest(spark, root, "d", "p").count() == 6)
    } finally IvfIndex.deleteDir(root)
  }

  test("a frame whose snapshot lost a directory to expire fails loudly, " +
    "never returning part of the snapshot") {
    val stage = Files.createTempDirectory("graft_mp_lost")
    val root = stage.toString
    def lostDir(e: Throwable): Boolean = e match {
      case null => false
      case s: IllegalStateException => s.getMessage.contains(root) &&
        s.getMessage.contains("partition p=0")
      case other => lostDir(other.getCause)
    }
    try {
      MP.init(df(1 -> 0, 2 -> 1, 3 -> 2), root, "d", "p")
      MP.append(spark, root, "d", "p", df(4 -> 0)) // v2: p=0 fragmented
      val v2 = MP.readLatest(spark, root, "d", "p")
      assert(MP.compact(spark, root, Seq(("d", "p"))) == 1) // v3
      val (expired, removed) = MP.expire(spark, root, Seq(("d", "p")), 1, 0L)
      assert(expired == Seq(1L, 2L) && removed == 2)
      val err = intercept[Exception](v2.collect())
      assert(lostDir(err), err.toString)
      // a directory lost some other way fails the same way
      val v3 = MP.readEntries(spark, root, "d", 3L)
      IvfIndex.deleteDir(stage.resolve("d")
        .resolve(s"g=${v3.find(_.part == 0).get.gen}").resolve("p=0").toString)
      val err3 = intercept[Exception](
        MP.read(spark, root, "d", "p", v3).collect())
      assert(lostDir(err3), err3.toString)
    } finally IvfIndex.deleteDir(root)
  }

  test("writeGen writes a many-partition batch with more than one task, " +
    "still one file per partition") {
    assert(spark.sparkContext.defaultParallelism > 1)
    val stage = Files.createTempDirectory("graft_mp_width")
    val root = stage.toString
    try {
      val (entries, jobs) = jobsOf(MP.writeGen(
        df((0 until 240).map(i => i -> i % 24): _*), root, "d", "p", 1L))
      assert(entries.map(_.part) == (0 until 24))
      assert(entries.forall(_.files == 1), s"not one file each: $entries")
      val writeTasks = jobs.last.stageInfos.maxBy(_.stageId).numTasks
      assert(writeTasks > 1, s"the write stage ran $writeTasks task(s)")
    } finally IvfIndex.deleteDir(root)
  }
}
