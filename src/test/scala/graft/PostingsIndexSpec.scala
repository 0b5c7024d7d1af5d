package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.similarity.IvfIndex
import graft.sources.ManifestedPartitions
import graft.text.{Bm25, PostingsIndex}

/** Persisted BM25 postings index (q_t_bm25_persist / q_t_bm25_append) —
  * beyond the shared DuckDB oracle, this pins the four lifecycle claims
  * under the manifest-committed layout (r16 — postings manifest and stats
  * sidecar commit under ONE marker):
  *   1. PARITY — probing the persisted index is bit-identical to the
  *      in-query Bm25.topK over the same corpus (integer tf/dl/df/stats
  *      round-trip parquet exactly; both paths score via Bm25.rankTopK);
  *   2. PRUNING — the probe scan reads ONLY the query terms' buckets'
  *      live directories, never the whole postings file set;
  *   3. MAINTENANCE — base-build + append + compact ≡ full build
  *      bit-for-bit, compaction leaves one live file per bucket, and the
  *      stats row advances exactly by the batch;
  *   4. AMORTIZATION — probe-only wall-clock is well under build+persist.
  */
class PostingsIndexSpec extends SparkSpec {

  private val terms = Seq("join", "vector", "stream")
  private val k = 15
  private val nBuckets = 16

  test("persisted postings: probe-only equals in-query Bm25.topK " +
    "bit-for-bit and the scan is pruned to the probed buckets") {
    val docs = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val stage = Files.createTempDirectory("graft_postings_spec")
    try {
      val t0 = System.nanoTime()
      PostingsIndex.write(docs, "doc_id", "text", nBuckets, stage.toString)
      val buildS = (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      val persisted = PostingsIndex
        .probe(spark, stage.toString, terms, "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val probeS = (System.nanoTime() - t1) / 1e9
      assert(persisted.nonEmpty, "probe returned nothing")

      val inQuery = Bm25.topK(docs, "doc_id", "text", terms, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      // bit-identical, not tolerance-equal: same doubles, same ranks
      assert(persisted.toSeq == inQuery.toSeq,
        s"persisted probe diverged from in-query BM25:\n" +
          s"${persisted.toSeq}\nvs\n${inQuery.toSeq}")

      // pruning: input_file_name read DIRECTLY over the pruned scan —
      // every file must come from a probed bucket directory, and the
      // probed set must be a strict subset of the index's buckets
      val probed = PostingsIndex.termBuckets(spark, terms, nBuckets)
      val filesRead = PostingsIndex
        .prunedPostings(spark, stage.toString, terms, nBuckets)
        .select(input_file_name().as("f"))
        .collect().map(_.getString(0)).toSet
      val bucketsRead = filesRead.flatMap { f =>
        "tb=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)
      }
      assert(filesRead.forall(_.contains("tb=")),
        s"probe read a non-partitioned path: $filesRead")
      assert(bucketsRead.subsetOf(probed.toSet),
        s"scan touched unprobed buckets: ${bucketsRead -- probed.toSet}")
      assert(probed.size <= terms.size,
        s"${probed.size} buckets probed for ${terms.size} terms")
      assert(bucketsRead.size < nBuckets,
        s"probe read all $nBuckets partitions — no pruning")

      // amortization: same generous 0.8 bound as PersistedIvfSpec — a
      // loaded machine can't flake the suite while a regression to
      // probe-re-tokenizes-the-corpus still fails loudly
      assert(probeS < 0.8 * (buildS + probeS),
        f"probe-only $probeS%.2fs did not amortize build $buildS%.2fs")
    } finally IvfIndex.deleteDir(stage.toString)
  }

  test("postings append + compact: equals full build bit-for-bit, " +
    "one file per bucket after compaction, stats advance by the batch") {
    val docs = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val isDelta = pmod(col("doc_id"), lit(3)) === 0
    val full = Files.createTempDirectory("graft_postings_full")
    val inc = Files.createTempDirectory("graft_postings_inc")
    try {
      PostingsIndex.write(docs, "doc_id", "text", nBuckets, full.toString)
      PostingsIndex.write(docs.filter(!isDelta), "doc_id", "text",
        nBuckets, inc.toString)
      val statsBase = PostingsIndex.readStats(spark, inc.toString)
      PostingsIndex.append(spark, inc.toString, docs.filter(isDelta),
        "doc_id", "text")

      // the stats row advanced EXACTLY by the batch: post-append stats
      // equal the full build's (disjoint id sets, same tokenization) —
      // and it was committed under the SAME marker as the postings
      // manifest (same version resolves both)
      val statsFull = PostingsIndex.readStats(spark, full.toString)
      val statsInc = PostingsIndex.readStats(spark, inc.toString)
      assert(statsInc.nDocs == statsFull.nDocs &&
        statsInc.totalDl == statsFull.totalDl,
        s"appended stats $statsInc != full-build stats $statsFull")
      assert(statsInc.nDocs > statsBase.nDocs,
        "append did not grow n_docs")

      val compacted = PostingsIndex.compact(spark, inc.toString)
      assert(compacted > 0, "append left no fragmented buckets")
      // one live parquet file per bucket after compaction
      val live = ManifestedPartitions.liveFiles(
        spark, inc.toString, "postings", "tb")
      assert(live.nonEmpty)
      live.foreach { case (tb, fs) =>
        assert(fs.size == 1, s"bucket tb=$tb holds ${fs.size} live files")
      }

      // maintained index ≡ full build, bit-for-bit
      def run(path: String) = PostingsIndex
        .probe(spark, path, terms, "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(run(inc.toString) == run(full.toString),
        "append+compact diverged from the full build")
    } finally {
      IvfIndex.deleteDir(full.toString)
      IvfIndex.deleteDir(inc.toString)
    }
  }

  test("postings delete: equals a build over the remaining docs " +
    "bit-for-bit, stats decrement exactly, bytes gone") {
    val docs = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val isDel = pmod(col("doc_id"), lit(7)) === 0
    val full = Files.createTempDirectory("graft_postings_del")
    val rest = Files.createTempDirectory("graft_postings_rest")
    try {
      PostingsIndex.write(docs, "doc_id", "text", nBuckets, full.toString)
      PostingsIndex.write(docs.filter(!isDel), "doc_id", "text",
        nBuckets, rest.toString)
      val ts = docs.filter(isDel).select("doc_id").localCheckpoint(true)
      val posts = ManifestedPartitions.readLatest(
        spark, full.toString, "postings", "tb")
      val deadRows = posts.join(ts, posts("id") === ts("doc_id")).count()
      val purged = PostingsIndex.delete(spark, full.toString, ts)
      assert(purged == deadRows && purged > 0,
        s"purged $purged rows, expected $deadRows")

      // gone from every later snapshot read: no posting row of a deleted
      // doc remains live (the retired generation's bytes go at GC)
      val tsIds = ts.collect().map(_.getLong(0)).toSet
      assert(ManifestedPartitions.readLatest(
          spark, full.toString, "postings", "tb")
        .filter(col("id").isInCollection(tsIds)).count() == 0)

      // stats decremented to exactly the build-over-remaining stats
      val sFull = PostingsIndex.readStats(spark, full.toString)
      val sRest = PostingsIndex.readStats(spark, rest.toString)
      assert(sFull.nDocs == sRest.nDocs &&
        sFull.totalDl == sRest.totalDl,
        s"post-delete stats $sFull != rebuild stats $sRest")

      // probe bit-identical to the build over remaining docs
      def run(path: String) = PostingsIndex
        .probe(spark, path, terms, "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(run(full.toString) == run(rest.toString),
        "post-delete probe diverged from the rebuild over remaining docs")

      // GC: the tombstoned bytes are physically removed past the horizon
      val (expired, removed) = PostingsIndex.expire(spark, full.toString, 1)
      assert(expired.nonEmpty && removed >= 1,
        s"expire removed $expired versions / $removed partition dirs")
      assert(run(full.toString) == run(rest.toString),
        "retention GC changed live probe results")
    } finally {
      IvfIndex.deleteDir(full.toString)
      IvfIndex.deleteDir(rest.toString)
    }
  }

  test("OCC commit carries the stats sidecar IN the marker body: one " +
    "atomic object, mixed history interops, probes score with it") {
    // r16 verdict order #3: the postings family could not race two
    // maintenance writers because its stats rode a parquet sidecar the
    // OCC path had no channel for. The gate proves the full race; this
    // pins the storage protocol on a hand-checkable corpus.
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "join vector join stream"),
      (2L, "vector stream table"),
      (3L, "join table scan"),
      (4L, "stream stream stream join")).toDF("doc_id", "text")
    val stage = Files.createTempDirectory("graft_postings_occ")
    val root = stage.toString
    try {
      PostingsIndex.write(docs, "doc_id", "text", nBuckets, root) // v1
      val st1 = PostingsIndex.readStats(spark, root)
      assert(st1 == PostingsIndex.Stats(4L, 14L, nBuckets))
      val before = PostingsIndex.probe(spark, root, terms, "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      // an OCC maintenance commit: delete doc 4, stats decremented in
      // the MARKER BODY
      val ts = Seq(4L).toDF("doc_id").localCheckpoint(true)
      val dead = ManifestedPartitions.readLatest(spark, root,
          "postings", "tb")
        .select("id", "tb", "dl")
        .join(broadcast(ts), col("id") === col("doc_id"))
        .localCheckpoint(true)
      val affected = dead.select("tb").distinct()
        .collect().map(_.getInt(0)).toSeq
      val merged = ManifestedPartitions.stageRewriteAt(spark, root,
        "postings", "tb", affected,
        df => df.join(broadcast(ts), df("id") === ts("doc_id"),
          "left_anti"),
        snapshotV = 1L, gen = 2L)
      val st2 = PostingsIndex.decrementStats(st1, dead)
      assert(ManifestedPartitions.commitManifestsCas(spark, root, 2L,
        Map("postings" -> merged),
        sidecarScalars = Map("stats" -> PostingsIndex.statsScalars(st2))))
      // no parquet stats table exists for v2, yet readStats resolves it
      assert(!Files.exists(stage.resolve("stats").resolve("v=2")))
      assert(PostingsIndex.readStats(spark, root)
        == PostingsIndex.Stats(3L, 10L, nBuckets),
        "marker-body stats did not resolve")
      // and the probe's idf/avgdl really use the body stats: doc 4 gone,
      // scores equal a fresh build over the remaining docs
      val rebuilt = Files.createTempDirectory("graft_postings_occ_rb")
      PostingsIndex.write(docs.filter(col("doc_id") =!= 4L),
        "doc_id", "text", nBuckets, rebuilt.toString)
      def vals(p: String, v: Option[Long] = None) =
        PostingsIndex.probe(spark, p, terms, "doc_id", k, version = v)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSeq
      assert(vals(root) == vals(rebuilt.toString),
        "OCC-committed probe diverged from the rebuild")
      IvfIndex.deleteDir(rebuilt.toString)
      // the version-PINNED probe still serves v1 with v1's stats
      assert(vals(root, Some(1L)) == before,
        "pinned v1 probe changed after the OCC commit")
    } finally IvfIndex.deleteDir(root)
  }

  test("ingestBatch is exactly-once: a re-delivered batch returns the " +
    "same version and changes nothing; a dual delivery by two racing " +
    "writers commits once") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "join vector join stream"),
      (2L, "vector stream table")).toDF("doc_id", "text")
    val stage = Files.createTempDirectory("graft_postings_ingest")
    val root = stage.toString
    def postingRows() = ManifestedPartitions.readLatest(spark, root,
        "postings", "tb")
      .select("id", "w", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    try {
      PostingsIndex.write(docs, "doc_id", "text", nBuckets, root) // v1
      val b7 = Seq((3L, "join table scan")).toDF("doc_id", "text")
      val v = PostingsIndex.ingestBatch(spark, root, b7, "doc_id", "text", 7L)
      assert(v == 2L)
      val stats = PostingsIndex.readStats(spark, root)
      assert(stats == PostingsIndex.Stats(3L, 10L, nBuckets))
      val rows = postingRows()
      // re-delivery (crash between commit and checkpoint): same version,
      // nothing new committed, stats and postings unchanged
      assert(PostingsIndex.ingestBatch(spark, root, b7, "doc_id", "text",
        7L) == v, "re-delivered batch returned a different version")
      assert(ManifestedPartitions.latestVersion(root).contains(v))
      assert(PostingsIndex.readStats(spark, root) == stats,
        "re-delivery changed the stats")
      assert(postingRows() == rows, "re-delivery changed the postings")

      // split-brain checkpoint: TWO writers deliver batch 8 at once
      val b8 = Seq((4L, "stream stream stream join")).toDF("doc_id", "text")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer() = new Thread(() =>
        try {
          barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
          outs.add(PostingsIndex.ingestBatch(spark, root, b8, "doc_id",
            "text", 8L))
          ()
        } catch { case t: Throwable => errs.add(t) })
      val a = writer(); val b = writer()
      a.start(); b.start(); a.join(240000); b.join(240000)
      assert(errs.isEmpty, s"a dual-delivery writer failed: ${errs.peek()}")
      import scala.jdk.CollectionConverters._
      assert(outs.asScala.toSeq == Seq(3L, 3L),
        s"dual delivery committed twice: ${outs.asScala.toSeq}")
      assert(ManifestedPartitions.latestVersion(root).contains(3L))
      val ledger = ManifestedPartitions.readSidecarTable(spark, root,
          ManifestedPartitions.Applied, 3L)
        .filter(col("batch_id") === 8L).count()
      assert(ledger == 1L, s"ledger holds batch 8 $ledger times")
      assert(PostingsIndex.readStats(spark, root)
        == PostingsIndex.Stats(4L, 14L, nBuckets),
        "dual delivery double-counted the batch in n_docs/total_dl")
    } finally IvfIndex.deleteDir(root)
  }
}
