package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.similarity.IvfIndex
import graft.sources.{ManifestedPartitions, VersionedView}
import graft.text.PostingsIndex

/** One long-lived IVF index over `embeddings` and one BM25 postings index
  * over `documents`, driven only through their public APIs. Each pass is one
  * cycle per index — delete → append → probe → compact → probe → expire —
  * that deletes as many rows as it appends, so the live set keeps its size.
  * The delete rewrites the partitions it touches and the append adds a file
  * to each, so compaction always has fragments to merge. The seed picks the
  * batches and the probes.
  *
  * Checked after every cycle, outside the timed calls: the live id set
  * equals the expected set; every probe (IVF over every cell) equals a
  * brute-force top-k over the expected live set; the probe after compaction
  * is bit-identical to the one before it.
  */
final class IndexLifecycle(spark: SparkSession, dataDir: String, root: String,
    rec: Recorder) {
  import spark.implicits._

  // Between compactions most cells hold two generations, so a probe of every
  // cell reads about 48 directories: past Spark's parallel-listing threshold
  // (32 paths), so fragmentation shows as listing jobs (scan.listing_jobs).
  private val NCells = 24
  private val NBuckets = 16
  private val K = 10
  private val KeepLast = 2
  private val ivfPath = s"$root/ivf"
  private val bm25Path = s"$root/bm25"

  private val vecPool: Array[Array[Float]] = spark.read
    .parquet(s"$dataDir/embeddings.parquet").orderBy("vec_id")
    .select("embedding").collect().map(_.getSeq[Float](0).toArray)
  private val docPool: Array[String] = spark.read
    .parquet(s"$dataDir/documents.parquet").orderBy("doc_id")
    .select("text").collect().map(_.getString(0))
  private val vocab = docPool.flatMap(_.split(" ")).distinct.sorted
  private val batch = math.max(4, vecPool.length / 10)

  // expected live state: id -> pool row
  private val ivfLive = mutable.LinkedHashMap[Long, Int]()
  private val bm25Live = mutable.LinkedHashMap[Long, Int]()
  private var nextId = 0L

  // per-API latencies and index state, for the per-layer metrics
  private val apiTimes = mutable.Map[String, ArrayBuffer[Double]]()
  private val maxFilesPerPart = ArrayBuffer[Double]()
  private val versionsLive = ArrayBuffer[Double]()
  private var spaceAmp = 0.0

  locally {
    vecPool.indices.foreach(i => ivfLive(i.toLong) = i)
    docPool.indices.foreach(i => bm25Live(i.toLong) = i)
    nextId = math.max(vecPool.length, docPool.length).toLong
    IvfIndex.deleteDir(root)
    rec.op("ivf.build") {
      IvfIndex.write(ivfFrame(ivfLive.toSeq), "id", "embedding", NCells, ivfPath)
    }
    rec.op("bm25.build") {
      PostingsIndex.write(bm25Frame(bm25Live.toSeq), "doc_id", "text", NBuckets, bm25Path)
    }
  }

  private def ivfFrame(rows: Seq[(Long, Int)]): DataFrame =
    rows.map { case (id, i) => (id, vecPool(i).toSeq) }.toDF("id", "embedding")

  private def bm25Frame(rows: Seq[(Long, Int)]): DataFrame =
    rows.map { case (id, i) => (id, docPool(i)) }.toDF("doc_id", "text")

  /** A timed public API call; its latency also feeds persist.<api>_s. */
  private def timed[T](name: String)(body: => T): Option[T] = {
    val out = rec.op(name)(body)
    if (out.isDefined && rec.timing)
      apiTimes.getOrElseUpdate(name, ArrayBuffer()) += rec.samples.last._2
    out
  }

  /** One cycle per index, as functions of the pass's random source. */
  val cycles: Seq[Random => Unit] = Seq(ivfCycle, bm25Cycle)

  /** On-disk bytes under both index roots over their live data bytes. */
  def measureSpace(): Unit =
    spaceAmp = (dirBytes(ivfPath) + dirBytes(bm25Path)).toDouble /
      (liveBytes(ivfPath, "lists", "cell") + liveBytes(bm25Path, "postings", "tb")).max(1L)

  /** `batch` live ids to delete, and `batch` new rows. */
  private def churn(live: mutable.LinkedHashMap[Long, Int], poolSize: Int,
      rng: Random): (Seq[Long], Seq[(Long, Int)]) = {
    val deleted = rng.shuffle(live.keys.toIndexedSeq).take(batch)
    val added = Seq.fill(batch) { nextId += 1; (nextId, rng.nextInt(poolSize)) }
    (deleted, added)
  }

  // ---- IVF -----------------------------------------------------------------

  private def ivfCycle(rng: Random): Unit = {
    val (deleted, added) = churn(ivfLive, vecPool.length, rng)
    val queries = Seq.fill(4)(rng.nextInt(vecPool.length))
    val qdf = queries.zipWithIndex.map { case (i, q) => (q.toLong, vecPool(i).toSeq) }
      .toDF("qid", "vec")
    def probe(): Option[Array[Row]] = timed("ivf.probe") {
      IvfIndex.probe(spark, ivfPath, qdf, "qid", "vec", K, NCells)
        .orderBy("query_id", "rank").collect()
    }
    if (timed("ivf.delete") {
      IvfIndex.delete(spark, ivfPath, deleted.toDF("id"))
    }.isDefined) ivfLive --= deleted
    if (timed("ivf.append") {
      IvfIndex.append(spark, ivfPath, ivfFrame(added), "id", "embedding")
    }.isDefined) ivfLive ++= added
    val before = probe()
    before.foreach(checkIvf("ivf.probe", _, queries))
    maxFilesPerPart += maxFiles(ivfPath, "lists")
    timed("ivf.compact")(IvfIndex.compact(spark, ivfPath))
    val after = probe()
    checkSame("ivf.compact", before, after)
    timed("ivf.expire")(IvfIndex.expire(spark, ivfPath, KeepLast))
    versionsLive += VersionedView.committedVersions(ivfPath).size
    val ids = IvfIndex.prunedLists(spark, ivfPath, 0 until NCells)
      .select("id").as[Long].collect().toSet
    checkIds("ivf.live_ids", ids, ivfLive.keySet.toSet)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One failure at most per probe, so failures never outnumber operations. */
  private def checkIvf(name: String, rows: Array[Row], queries: Seq[Int]): Unit = {
    val live = ivfLive.toSeq.map { case (id, i) => id -> vecPool(i).map(_.toDouble) }
    queries.zipWithIndex.iterator.flatMap { case (qi, q) =>
      val qv = vecPool(qi).map(_.toDouble)
      val truth = live.map { case (id, v) => (id, cosine(v, qv)) }
      val got = rows.filter(_.getLong(0) == q).map(r => (r.getLong(2), r.getDouble(3)))
      topKMatches(truth, got.toSeq, 1e-12).map(m => s"query $q: $m")
    }.nextOption().foreach(rec.fail(name, _))
  }

  // ---- BM25 ----------------------------------------------------------------

  private def bm25Cycle(rng: Random): Unit = {
    val (deleted, added) = churn(bm25Live, docPool.length, rng)
    val terms = rng.shuffle(vocab.toSeq).take(3)
    def probe(): Option[Array[Row]] = timed("bm25.probe") {
      PostingsIndex.probe(spark, bm25Path, terms, "doc_id", K).orderBy("rank").collect()
    }
    if (timed("bm25.delete") {
      PostingsIndex.delete(spark, bm25Path, deleted.toDF("doc_id"))
    }.isDefined) bm25Live --= deleted
    if (timed("bm25.append") {
      PostingsIndex.append(spark, bm25Path, bm25Frame(added), "doc_id", "text")
    }.isDefined) bm25Live ++= added
    val before = probe()
    before.foreach(checkBm25("bm25.probe", _, terms))
    maxFilesPerPart += maxFiles(bm25Path, "postings")
    timed("bm25.compact")(PostingsIndex.compact(spark, bm25Path))
    val after = probe()
    checkSame("bm25.compact", before, after)
    timed("bm25.expire")(PostingsIndex.expire(spark, bm25Path, KeepLast))
    versionsLive += VersionedView.committedVersions(bm25Path).size
    val ids = ManifestedPartitions.readLatest(spark, bm25Path, "postings", "tb")
      .select("id").distinct().as[Long].collect().toSet
    checkIds("bm25.live_ids", ids, bm25Live.keySet.toSet)
  }

  /** BM25(k1 = 1.2, b = 0.75) over the expected live documents, with the
    * per-document sum rounded as PostingsIndex's scoring rounds it.
    */
  private def checkBm25(name: String, rows: Array[Row], terms: Seq[String]): Unit = {
    val (k1, b) = (1.2, 0.75)
    val docs = bm25Live.toSeq.map { case (id, i) => id -> docPool(i).split(" ").filter(_.nonEmpty) }
    val n = docs.size.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val truth = docs.flatMap { case (id, toks) =>
      val dl = toks.length.toDouble
      val parts = terms.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None else {
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
          val s = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
          Some(BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
      }
      if (parts.isEmpty) None
      else Some(id -> math.floor(parts.sum.toDouble * 1e6 + 0.5) / 1e6)
    }
    val got = rows.toSeq.map(r => (r.getLong(1), r.getDouble(2)))
    topKMatches(truth, got, 2e-6).foreach(m => rec.fail(name, s"terms ${terms.mkString(",")}: $m"))
  }

  // ---- checks --------------------------------------------------------------

  /** `got` is a correct top-K of `truth` (id -> score, higher is better):
    * right length, each score right, in order, and nothing left out scores
    * higher than the last returned row (ties may resolve either way).
    */
  private def topKMatches(truth: Seq[(Long, Double)], got: Seq[(Long, Double)],
      tol: Double): Option[String] = {
    val t = truth.toMap
    val want = math.min(K, truth.size)
    val gotIds = got.map(_._1).toSet
    if (got.size != want) Some(s"${got.size} rows, want $want")
    else got.find { case (id, s) => t.get(id).forall(x => math.abs(x - s) > tol) } match {
      case Some((id, s)) => Some(s"id $id scored $s, brute force ${t.get(id)}")
      case None if got.map(_._2).zip(got.map(_._2).drop(1)).exists { case (a, b) => b > a + tol } =>
        Some("rows out of score order")
      case None =>
        val floor = if (got.isEmpty) Double.PositiveInfinity else got.map(_._2).min
        truth.filterNot(x => gotIds(x._1)).find(_._2 > floor + tol)
          .map { case (id, s) => s"missed id $id scoring $s" }
    }
  }

  private def checkSame(name: String, before: Option[Array[Row]],
      after: Option[Array[Row]]): Unit =
    for (b <- before; a <- after if !(a sameElements b))
      rec.fail(name, "probe results changed across compaction")

  private def checkIds(name: String, got: Set[Long], want: Set[Long]): Unit =
    if (got != want)
      rec.fail(name, s"live ids differ: ${(got -- want).size} unexpected, " +
        s"${(want -- got).size} missing")

  // ---- on-disk state -------------------------------------------------------

  private def maxFiles(path: String, data: String): Double =
    ManifestedPartitions.liveStats(spark, path, data).values.map(_._1).maxOption
      .getOrElse(0).toDouble

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  private def liveBytes(path: String, data: String, partCol: String): Long =
    ManifestedPartitions.latestVersion(path).toSeq.flatMap { v =>
      ManifestedPartitions.readEntries(spark, path, data, v)
    }.map(e => dirBytes(s"$path/$data/g=${e.gen}/$partCol=${e.part}")).sum

  /** Data files under the index roots, for persist.files_written. */
  def dataFiles(): Set[Path] = Seq(ivfPath, bm25Path).flatMap { p =>
    val r = Paths.get(p)
    if (!Files.exists(r)) Nil else {
      val st = Files.walk(r)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally st.close()
    }
  }.toSet

  def report: Seq[(String, Double, String)] = Seq(("space_amp", spaceAmp, "1"))

  def layerMetrics: Seq[(String, Double, String)] = {
    val apis = for (f <- Seq("ivf", "bm25"); a <- Seq("append", "delete", "compact", "expire", "probe"))
      yield (s"persist.$f.${a}_s", Stats.median(apiTimes.getOrElse(s"$f.$a", ArrayBuffer()).toSeq), "s")
    apis ++ Seq(
      ("persist.max_files_per_part", Stats.median(maxFilesPerPart.toSeq), "count"),
      ("persist.versions_live", Stats.median(versionsLive.toSeq), "count"),
      ("persist.space_amp", spaceAmp, "1"))
  }
}
