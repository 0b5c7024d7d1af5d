package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ManifestedPartitions, VersionedView}

/** Persisted BM25 postings index — the lexical-retrieval twin of the
  * persisted IVF lifecycle (similarity.IvfIndex): a 100 TB corpus does not
  * re-tokenize itself per query (Bm25.topK's shape) — it builds the
  * inverted index ONCE (a full-scan job, amortized over every query
  * thereafter) and serves queries from the persisted artifact:
  *
  *   - `<path>/postings`: one row per (document, term) — (id, w, tf, dl),
  *     the document length DENORMALIZED onto each posting so scoring never
  *     joins a corpus-sized side table — manifest-committed generations
  *     per `tb`, the term's hash bucket (`pmod(xxhash64(w), n_buckets)`),
  *     so a query's term lookups statically PRUNE the scan to exactly the
  *     probed buckets' live directories (≈ |query| of n_buckets buckets)
  *     instead of rescanning the corpus;
  *   - the corpus statistics (n_docs, total_dl, n_buckets) BM25's
  *     idf/avgdl need, persisted so a probe never recomputes them from
  *     the postings (which would be a full scan) — committed as scalars
  *     in the SAME marker body as the postings manifest, so a maintenance
  *     commit lands postings + stats atomically or not at all, and a torn
  *     run leaves the previous snapshot of BOTH fully live.
  *
  * Determinism contract: tf/dl/df and the corpus stats are integers that
  * round-trip parquet exactly, and the probe scores them through the SAME
  * expression tree as the in-query path (Bm25.rankTopK), so probing the
  * persisted index returns results bit-identical to Bm25.topK over the
  * same corpus — which is what lets the q_t_bm25_persist gate share
  * q_t_bm25's DuckDB oracle.
  */
object PostingsIndex {

  private val Postings = "postings"
  private val Tb = "tb"
  private val StatsName = "stats"

  /** The 1-row corpus statistics BM25 scoring needs, committed as the
    * `~stats` scalar sidecar IN the marker body ([[statsScalars]]) — so
    * racing maintenance writers carry the stats through the same atomic
    * CAS as the postings manifest.
    */
  case class Stats(nDocs: Long, totalDl: Long, nBuckets: Int)

  /** Marker-body encoding of a stats row for
    * ManifestedPartitions.commitManifestsCas' `sidecarScalars`.
    */
  def statsScalars(st: Stats): Seq[(String, Long)] =
    Seq("n_docs" -> st.nDocs, "total_dl" -> st.totalDl,
      "n_buckets" -> st.nBuckets.toLong)

  /** The (id, w, tf, dl) posting rows for `docs` — tokenization shared
    * with Bm25.topK (empty/whitespace-only documents contribute nothing,
    * keeping both paths' corpus statistics aligned).
    */
  private def postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = Bm25.tokens(docs, idCol, textCol)
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    toks.groupBy(idCol, "w").agg(count(lit(1)).as("tf"))
      .join(dl, idCol)
      .select(col(idCol).as("id"), col("w"), col("tf"), col("dl"))
  }

  private def withBucket(posts: DataFrame, nBuckets: Int): DataFrame =
    posts.withColumn(Tb,
      pmod(xxhash64(col("w")), lit(nBuckets.toLong)).cast("int"))

  /** Build + persist the index for `docs` at `path` (overwrites): the
    * initial postings generation, the stats (as marker-body scalars),
    * and an empty applied-batches ledger
    * (the streaming exactly-once channel, [[ingestBatch]]) land under ONE
    * manifest commit.
    */
  def write(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, path: String): Unit = {
    val spark = docs.sparkSession
    val posts = withBucket(postings(docs, idCol, textCol), nBuckets)
      .localCheckpoint(true) // feeds both the postings write and the stats
    ManifestedPartitions.init(posts, path, Postings, Tb,
      sidecars = Map(ManifestedPartitions.Applied ->
        ManifestedPartitions.emptyLedger(spark)),
      sidecarScalars = Map(
        StatsName -> statsScalars(statsOf(posts, nBuckets))))
  }

  /** n_docs/total_dl derive from the DISTINCT documents (dl is constant
    * within a document's postings, so min == the value). A bounded
    * driver-side aggregate (2 longs).
    */
  private def statsOf(posts: DataFrame, nBuckets: Int): Stats = {
    val r = posts.groupBy("id").agg(min("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("total_dl"))
      .collect()(0)
    Stats(r.getLong(0), r.getLong(1), nBuckets)
  }

  /** The committed corpus statistics at the latest (or pinned) version —
    * the `~stats` scalars of that version's marker body.
    */
  def readStats(spark: SparkSession, path: String,
      version: Option[Long] = None): Stats =
    statsAt(path, VersionedView.resolve(path, version))

  private def statsAt(path: String, v: Long): Stats = {
    val m = ManifestedPartitions.readSidecarScalars(path, StatsName, v)
      .getOrElse(throw new IllegalStateException(
        s"version $v marker at $path has no key ~$StatsName"))
    Stats(m("n_docs"), m("total_dl"), m("n_buckets").toInt)
  }

  /** The batch's postings bucketed with the STORED n_buckets (frozen at
    * build), staged ONCE as a writer-unique generation, with the batch's
    * own (n_docs, total_dl).
    */
  private def stage(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String,
      textCol: String): (Stats, Seq[ManifestedPartitions.Entry]) = {
    val nBuckets = readStats(spark, path).nBuckets
    val posts = withBucket(postings(delta, idCol, textCol), nBuckets)
      .localCheckpoint(true) // feeds both the stats and the postings write
    (statsOf(posts, nBuckets),
      ManifestedPartitions.writeGen(posts, path, Postings, Tb,
        ManifestedPartitions.freshGen()))
  }

  /** The stats at `inV` advanced by a staged `batch` — exact because
    * append's contract is NEW document ids (the standard ingest shape; an
    * updated document is a delete + insert).
    */
  private def advanced(path: String, inV: Long,
      batch: Stats): Map[String, Seq[(String, Long)]] = {
    val st = statsAt(path, inV)
    Map(StatsName -> statsScalars(Stats(st.nDocs + batch.nDocs,
      st.totalDl + batch.totalDl, st.nBuckets)))
  }

  /** APPEND a document batch WITHOUT rebuilding: the batch's postings land
    * as one staged generation and the stats scalars advance by the
    * batch IN THE SAME MARKER BODY as the postings manifest, so scores
    * can never run on stats that diverged from the postings they
    * describe. ManifestedPartitions.commitAppend recomputes the advance
    * against every CAS attempt's snapshot, so an interleaved delete's
    * decrement is never clobbered. Ingest cost ∝ batch, never the corpus.
    * Returns the committed version.
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, textCol: String): Long = {
    val (batch, written) = stage(spark, path, delta, idCol, textCol)
    ManifestedPartitions.commitAppend(spark, path, Map(Postings -> written))(
      advanced(path, _, batch))
  }

  /** Ingest micro-batch `batchId` EXACTLY ONCE — the streaming form of
    * [[append]] under ManifestedPartitions.ingestOnce's applied-batches
    * ledger: a re-delivered batch returns its committed version before
    * any tokenization or staging happens (the staging is a lazy val), and
    * a first delivery commits the append's manifest and stats advance at
    * latest+1, so maintenance versions interleave freely. Returns the
    * committed (or already-committed) version.
    */
  def ingestBatch(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, textCol: String, batchId: Long): Long = {
    lazy val (batch, written) = stage(spark, path, delta, idCol, textCol)
    ManifestedPartitions.ingestOnce(spark, path, batchId) { (inV, _) =>
      ManifestedPartitions.Commit(ManifestedPartitions.appended(spark,
          path, inV, Map(Postings -> written)),
        scalars = advanced(path, inV, batch))
    }
  }

  /** DELETE a tombstone batch (doc ids) from the index — the GDPR leg of
    * the postings lifecycle, ManifestedPartitions.delete keyed by the
    * posting's `id` (the tombstones' `doc_id`, renamed): only the buckets
    * holding deleted documents' postings are rewritten, and the stats
    * scalars are decremented by exactly the deleted documents' own
    * (n_docs, total_dl) against the same snapshot, so idf/avgdl at the
    * next probe reflect the post-delete corpus. Postings and stats commit
    * under ONE marker; the dead generations' bytes are physically removed
    * by [[expire]]. Returns the number of posting rows purged; unmatched
    * tombstones are ignored; tombstones are deduplicated so a repeated id
    * cannot inflate the purge count or double-decrement the stats
    * (ADVICE r15).
    */
  def delete(spark: SparkSession, path: String,
      tombstones: DataFrame): Long =
    ManifestedPartitions.delete(spark, path, Seq((Postings, Tb)), "id",
        tombstones.select(col("doc_id").as("id")), keep = Seq("dl")) {
      (inV, dead) => Map(StatsName ->
        statsScalars(decrementStats(statsAt(path, inV), dead)))
    }

  /** The deleted documents' own (n_docs, total_dl) decrement applied to
    * `st` — shared by [[delete]]'s sidecar and the OCC delete writer
    * (which must recompute the decrement against ITS snapshot). `dead`
    * is the (id, dl) posting rows being purged.
    */
  def decrementStats(st: Stats, dead: DataFrame): Stats = {
    val r = dead.groupBy("id").agg(min("dl").as("dl"))
      .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("tdl"))
      .collect()(0)
    Stats(st.nDocs - r.getLong(0), st.totalDl - r.getLong(1), st.nBuckets)
  }

  /** COMPACT fragmented bucket partitions (append lands one generation per
    * batch): rewrite exactly the buckets whose live rows span several
    * files back to one file each — bucket-local, partition-pruned, probe
    * results bit-identical before/after, crash-safe (marker-last commit).
    * The stats sidecar is carried over unchanged under the new marker.
    * Returns the number of compacted buckets.
    */
  def compact(spark: SparkSession, path: String): Int =
    // stats and ledger ride each CAS attempt's marker UNCHANGED via the
    // commit path's auto-carry-forward — compaction is physical only, so
    // re-reading them here would only risk installing a stale copy under
    // a race (the exact lost update r18 order #1 closes)
    ManifestedPartitions.compact(spark, path, Seq((Postings, Tb)))

  /** RETENTION GC: expire manifest versions below the keep-horizon and
    * delete unreferenced postings generations — where deleted documents'
    * bytes actually go away. Returns (expired versions, deleted
    * generation count).
    */
  def expire(spark: SparkSession, path: String,
      keepLast: Int): (Seq[Long], Int) =
    ManifestedPartitions.expire(spark, path, Seq((Postings, Tb)), keepLast)

  /** The hash buckets `terms` probe — the SAME Catalyst expression that
    * bucketed the postings at write time (`pmod(xxhash64(w), n)`),
    * evaluated on the driver: ≤ |terms| interpreted evals against
    * literals, identical bit-for-bit to the executor codepath, without
    * paying a whole Spark job per probe (r18 optimization — this ran as
    * a toDF/distinct/collect action on every probe of every BM25 gate).
    */
  def termBuckets(spark: SparkSession, terms: Seq[String],
      nBuckets: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    terms.map { t =>
      Pmod(new XxHash64(Seq(Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(t)))),
          Literal(nBuckets.toLong))
        .eval(null).asInstanceOf[Long].toInt
    }.distinct
  }

  /** The postings scan pruned to `terms`' buckets — only the probed
    * buckets' live generation directories are opened (static pruning by
    * path construction); the term equality filter then lands on the
    * pruned files' dictionary-encoded `w` column.
    */
  def prunedPostings(spark: SparkSession, path: String, terms: Seq[String],
      nBuckets: Int, version: Option[Long] = None): DataFrame = {
    val probed = termBuckets(spark, terms, nBuckets)
    // empty entries (every probed bucket vacuumed — or the whole corpus
    // deleted) read as a schema'd empty frame, never a crash (ADVICE r16)
    ManifestedPartitions.read(spark, path, Postings, Tb,
        ManifestedPartitions.prunedEntries(
          spark, path, Postings, probed, version))
      .filter(col("w").isin(terms: _*))
  }

  /** Probe-only BM25 top-`k` against a persisted index: (rank, idCol,
    * score), bit-identical to Bm25.topK over the same corpus. Reads the
    * 1-row stats sidecar plus only the probed buckets' postings files —
    * never the corpus text.
    */
  def probe(spark: SparkSession, path: String, queryTerms: Seq[String],
      idCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      version: Option[Long] = None): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    // ONE version resolution serving stats AND postings (the snapshot-
    // pinned probe discipline — scores can never mix one version's idf
    // with another's postings)
    val v = VersionedView.resolve(path, version)
    val st = statsAt(path, v)
    // consumed twice (as the tf rows and for the per-term df counts) —
    // materialize once so the pruned scan doesn't re-run (ADVICE r14
    // pattern)
    val posts = prunedPostings(spark, path, queryTerms, st.nBuckets, Some(v))
      .localCheckpoint(true)
    val dfq = posts.groupBy("w").agg(count(lit(1)).as("dfc"))
    val stats = spark.range(1)
      .select(lit(st.nDocs).as("n_docs"), lit(st.totalDl).as("total_dl"))
    val perTerm = posts
      .join(broadcast(dfq), "w")
      .crossJoin(broadcast(stats))
      .withColumnRenamed("id", idCol)
    Bm25.rankTopK(perTerm, idCol, k, k1, b)
  }
}
