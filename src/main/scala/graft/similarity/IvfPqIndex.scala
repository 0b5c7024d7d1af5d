package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.{Dirs, ManifestedPartitions}

/** Persisted IVF-PQ index with exact re-rank (r14 verdict order #3) — the
  * storage-bounded ANN layout a 100 TB corpus actually deploys. The plain
  * persisted IVF index (`IvfIndex`) stores RAW vectors in its inverted
  * lists, so the index is a full second copy of the corpus; here the lists
  * hold only (id, pq_codes) — `m` small code indices, 8 bytes at the
  * catalog parameters instead of a 512-byte float64[64] — and exact
  * vectors live once, in a separate id-keyed side table consulted only for
  * the final re-rank of a bounded candidate set (the IVFADC-with-refine
  * structure of Jégou, Douze & Schmid, TPAMI 2011 — FAISS
  * IndexIVFPQ + refine).
  *
  * Layout at `<path>` (both datasets manifest-committed under ONE version
  * counter — sources.ManifestedPartitions, r15 verdict orders #1/#2 — so
  * a maintenance op that touches codes AND raw vectors commits atomically
  * or not at all, and a crash leaves the previous snapshot of both):
  *   - `centroids`: (cell, c RAW, cn L2-NORMALIZED) — raw centroids feed
  *     residual subtraction, normalized ones probe ranking; both stored so
  *     probe-time arithmetic bit-matches build-time (renormalizing a
  *     stored unit vector is 1 ± ulp — see Ann.assignCellsNormalized);
  *     written once at build — the frozen coarse quantizer;
  *   - `codebooks`: (m, k, c) — per-subspace PQ codebooks trained on the
  *     RESIDUALS (quantization error measured around each cell's centroid,
  *     the defining IVF-PQ property); frozen like the quantizer;
  *   - `lists`: (id, codes) in generations per `cell` — the probe scan
  *     reads codes only, pruned to the probed cells' live directories;
  *   - `raw`: (id, v) in generations per `rb`, the id's hash bucket — the
  *     exact-vector side table; bucketing gives a GDPR delete a BOUNDED
  *     rewrite (only the tombstoned ids' buckets are touched — the r15
  *     verdict's named gap for this family) and at cluster scale makes
  *     the re-rank fetch a co-located point lookup; the probe only ever
  *     asks it for ≤ queries·refine rows.
  *
  * Probe = coarse rank (broadcast centroids) → pruned codes-only ADC scan
  * → top-`refine` candidates per query by approximate distance → exact
  * cosine over just those candidates from the side table → top-k. Every
  * float op is the same sequential IEEE chain as the in-query
  * q_pipeline_ivfpq_e2e (decimal-sum training + ordered folds + exact
  * parquet double round-trip), so the DuckDB oracle replays the whole
  * lifecycle from the same aux dumps.
  */
object IvfPqIndex {

  private val Lists = "lists"
  private val Raw = "raw"

  /** Raw-side bucket count: bounds a tombstone batch's rewrite to its
    * ids' buckets. A deployment sizes this so a bucket's exact vectors
    * fit one maintenance task; the testdata corpus needs only a handful.
    */
  val RawBuckets = 16

  private def withRawBucket(df: DataFrame): DataFrame =
    df.withColumn("rb",
      pmod(xxhash64(col("id")), lit(RawBuckets.toLong)).cast("int"))

  /** Build + persist the index for `corpus` at `path` (overwrites): codes
    * and raw generations land first, one marker commits both manifests.
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
      dim: Int, m: Int, k: Int, path: String): Unit = {
    Dirs.delete(path) // overwrite contract
    val sp = corpus.sparkSession
    import sp.implicits._
    val cents = ManifestedPartitions.labeled(sp, "ivfpq:hashCentroids") {
      Ann.hashCentroids(corpus, idCol, vecCol, nCells, dimHint = Some(dim))
    }
    val cn = Ann.normalizeCentroids(cents)
    ManifestedPartitions.labeled(sp, "ivfpq:centroids") {
      cents.zip(cn).map { case ((cell, c), (_, n)) => (cell, c.toSeq, n.toSeq) }
        .toDF("cell", "c", "cn")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }
    val centDf = cents.map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "c")
    val res = Ann.assignCells(corpus, idCol, vecCol, cents)
      .join(broadcast(centDf), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("v"), col("c"), (x, y) => x - y).as("r"))
    val cb = ManifestedPartitions.labeled(sp, "ivfpq:trainCodebooks") {
      Pq.trainCodebooks(res, "id", "r", dim, m, k)
    }
    ManifestedPartitions.labeled(sp, "ivfpq:codebooks") {
      cb.map { case (mi, ki, c) => (mi, ki, c.toSeq) }.toDF("m", "k", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }
    // the inverted lists carry CODES ONLY — the 8-byte payload is the
    // entire point; the exact vector is written once, to the side table
    ManifestedPartitions.init(
      Pq.encode(res, "id", "r", dim, cb, m, keep = Seq("cell")),
      path, Lists, "cell",
      more = Seq((withRawBucket(corpus.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))), Raw, "rb")))
  }

  /** APPEND a vector batch WITHOUT retraining — the PQ twin of
    * IvfIndex.append, freezing BOTH trained artifacts: each new vector is
    * assigned to its nearest STORED centroid (via the stored normalized
    * copies — see Ann.assignCellsNormalized on why renormalizing would
    * break bit-parity), its residual against the STORED raw centroid is
    * encoded with the STORED codebooks, and the batch lands as one new
    * generation in each dataset — codes into `lists`, exact vectors into
    * `raw` — committed under ONE marker. Ingest cost ∝ batch; the
    * quantizer AND codebooks retrain on a slow cadence, never per ingest.
    * Because assignment + encoding are per-vector functions of frozen
    * state, the appended index is bit-identical to a rebuild over
    * base ∪ batch with the same frozen parts — which is what lets
    * q_s_ivfpq_append's oracle replay from base-trained dumps.
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val sp = spark
    import sp.implicits._
    val centRows = readCentroids(spark, path)
    val dim = centRows.head._2.length
    val cDf = centRows.map { case (cell, c, _) => (cell, c) }
      .toDF("cell", "c")
    val cb = readCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val res = Ann.assignCellsNormalized(delta, idCol, vecCol,
        centRows.map { case (cell, _, cn) => (cell, cn.toArray) })
      .join(broadcast(cDf), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("v"), col("c"), (x, y) => x - y).as("r"))
      .localCheckpoint(true) // feeds both the encode and the cell re-join
    // both datasets stage ONCE under writer-unique generations; a lost
    // version race re-merges the immutable entries onto the winner's
    // snapshot — ONE CAS marker still commits both
    ManifestedPartitions.commitAppend(spark, path, Map(
      Lists -> ManifestedPartitions.writeGen(
        Pq.encode(res, "id", "r", dim, cb, m, keep = Seq("cell")),
        path, Lists, "cell", ManifestedPartitions.freshGen()),
      Raw -> ManifestedPartitions.writeGen(
        withRawBucket(delta.select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v"))),
        path, Raw, "rb", ManifestedPartitions.freshGen())))()
    ()
  }

  /** DELETE a tombstone batch (vector ids) — the GDPR leg that completes
    * the PQ family's lifecycle (r15 verdict order #2), purging the
    * tombstones from BOTH the coded lists AND the raw side table in one
    * atomic commit: affected cells/buckets are discovered by
    * column-pruned (id, cell) / (id, rb) scans joined to the
    * (deduplicated) tombstones, only those partitions are rewritten
    * (anti-join into fresh generations; untouched partitions' files are
    * never opened), and ONE marker commits both new manifests — a probe
    * can never observe codes purged but raw not (or vice versa), and a
    * crash at any point leaves the pre-delete snapshot of both. The
    * frozen quantizer and codebooks are untouched. Returns the number of
    * list rows purged.
    */
  def delete(spark: SparkSession, path: String,
      tombstones: DataFrame): Long =
    ManifestedPartitions.delete(spark, path,
      Seq((Lists, "cell"), (Raw, "rb")), "id", tombstones)()

  /** COMPACT fragmented partitions in both datasets (each append commits
    * one generation per dataset): rewrite exactly the cells/buckets whose
    * live rows span several files back to one file each, committing the
    * rewritten manifests under one marker — partition-local, crash-safe,
    * probe results bit-identical before/after. Returns the number of
    * compacted partitions across both datasets.
    */
  def compact(spark: SparkSession, path: String): Int =
    ManifestedPartitions.compact(spark, path,
      Seq((Lists, "cell"), (Raw, "rb")))

  /** RETENTION GC over both datasets: expire below-horizon manifest
    * versions (marker-first — stale time travel fails loudly) and delete
    * unreferenced generations — where tombstoned vectors' bytes (codes
    * AND exact values) actually go away. Returns (expired versions,
    * deleted generation count).
    */
  def expire(spark: SparkSession, path: String,
      keepLast: Int): (Seq[Long], Int) =
    ManifestedPartitions.expire(spark, path,
      Seq((Lists, "cell"), (Raw, "rb")), keepLast)

  /** Probe-only search: coarse-rank the stored normalized centroids per
    * query, prune the codes scan to the probed cells' live directories,
    * ADC-score the codes, keep the top `refine` candidates per query by
    * approximate distance, then exact-cosine re-rank JUST those
    * candidates from the raw side table (self-matches dropped before the
    * final ranking). Returns (query_id, rank, nn_id, cos).
    *
    * `version` pins the manifest snapshot (r16 verdict order #2, mirror
    * of IvfIndex.probe): the version is resolved ONCE at probe start and
    * BOTH datasets — the coded lists and the raw exact-vector side table
    * — are read at that same snapshot. (ADVICE r16: the old probe
    * resolved latest twice independently; a delete committing between
    * the two resolutions produced a torn cross-dataset read where
    * candidates' raw vectors were missing and silently dropped from the
    * exact re-rank.) None pins the latest committed version, once.
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int, nProbe: Int,
      refine: Int, version: Option[Long] = None): DataFrame = {
    val sp = spark
    import sp.implicits._
    // ONE version resolution serving both datasets' reads below
    val v = graft.sources.VersionedView.resolve(path, version)
    val centRows = readCentroids(spark, path)
    val dim = centRows.head._2.length
    val cDf = centRows.map { case (cell, c, _) => (cell, c) }
      .toDF("cell", "c")
    val cb = readCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val sub = dim / m
    // probe ranking materialized once (it feeds both the pruning collect
    // and the ADC-table build)
    val probes = queryCells(spark, path, queries, qidCol, vecCol, nProbe)
      .localCheckpoint(true)
    val probed = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    // one m×k ADC table per (query, probed cell), from the query's
    // RESIDUAL against that cell's RAW centroid
    val lit_ = Pq.codebookLit(cb, m)
    val qtab = probes.join(broadcast(cDf), "cell")
      .select(col("query_id"), col("qv"), col("cell"),
        zip_with(col("qv"), col("c"), (x, y) => x - y).as("qr"))
      .select(col("query_id"), col("qv"), col("cell"),
        array((0 until m).map { mi =>
          transform(element_at(lit_, mi + 1),
            cc => Pq.sqDist(slice(col("qr"), mi * sub + 1, sub), cc))
        }: _*).as("dtab"))
    // codes-only scan over exactly the probed cells' live generations at
    // the pinned snapshot (empty after a full vacuum → schema'd empty)
    val lists = ManifestedPartitions.read(spark, path, Lists, "cell",
      ManifestedPartitions.prunedEntries(spark, path, Lists, probed, Some(v)))
    val cands = lists
      .select(col("id").as("nn_id"), col("codes"), col("cell"))
      .join(broadcast(qtab), Seq("cell"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), col("dtab"),
          (code, ds) => element_at(ds, code + 1)),
        lit(0.0), _ + _))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc"), col("nn_id"))))
      .filter(col("crank") <= refine)
      .select("query_id", "qv", "nn_id")
    // exact re-rank: fetch ONLY the ≤ queries·refine candidate vectors
    // from the side table AT THE SAME PINNED SNAPSHOT as the codes scan
    // (broadcast the candidates, never the table)
    ManifestedPartitions.read(spark, path, Raw, "rb",
        ManifestedPartitions.readEntries(spark, path, Raw, v))
      .select(col("id").as("nn_id"), col("v").as("cv"))
      .join(broadcast(cands), Seq("nn_id"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cos", Dedup.cosine(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cos"), col("nn_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "cos")
  }

  /** Per-query probed cells: (query_id, qv, cell) — the query batch
    * scored against the STORED normalized centroids (same sequential dot
    * fold as the in-query gate), top `nProbe` cells each.
    */
  def queryCells(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    val cnDf = readCentroids(spark, path)
      .map { case (cell, _, n) => (cell, n) }.toDF("cell", "cn")
    queries.select(col(qidCol).as("query_id"),
        transform(col(vecCol), _.cast("double")).as("qv"))
      .join(broadcast(cnDf))
      .select(col("query_id"), col("qv"), col("cell"),
        aggregate(zip_with(col("qv"), col("cn"), (x, y) => x * y),
          lit(0.0), _ + _).as("s"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("s"), col("cell"))))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "cell")
  }

  // both trained artifacts are written once at build and frozen (append,
  // delete, compact never touch them), yet probe re-collected the
  // centroids TWICE (directly + via queryCells) and the codebooks once —
  // three Spark jobs per probe for a few KB. Driver-cached per fileset
  // identity (sources.ArtifactCache): any rebuild re-reads, cached rows
  // are bit-identical to an uncached collect.
  private def readCentroids(spark: SparkSession,
      path: String): Seq[(Int, Seq[Double], Seq[Double])] =
    graft.sources.ArtifactCache.collected(s"$path/centroids") {
      spark.read.parquet(s"$path/centroids")
        .select("cell", "c", "cn").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getSeq[Double](2)))
        .sortBy(_._1).toSeq
    }

  private def readCodebooks(spark: SparkSession,
      path: String): Seq[(Int, Int, Array[Double])] =
    graft.sources.ArtifactCache.collected(s"$path/codebooks") {
      spark.read.parquet(s"$path/codebooks")
        .select("m", "k", "c").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .sortBy(t => (t._1, t._2)).toSeq
    }
}
