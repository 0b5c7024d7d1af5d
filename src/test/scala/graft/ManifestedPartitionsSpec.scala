package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.similarity.IvfIndex
import graft.sources.{ManifestedPartitions => MP, VersionedView}

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
  *     its live partitions — and below-horizon reads fail LOUDLY.
  */
class ManifestedPartitionsSpec extends SparkSpec {

  import spark.implicits._

  private def df(rows: (Int, Int)*) = rows.toSeq.toDF("x", "p")

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
}
