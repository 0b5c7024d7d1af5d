package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorFunctions
import graft.sources.{Dirs, ManifestedPartitions}

/** Persisted IVF index lifecycle — build once, probe many (r13 verdict
  * order #3). Every other ANN entry rebuilds its index inside the query;
  * a 100 TB corpus builds the index ONCE (a full-scan job, amortized over
  * every query thereafter) and serves queries from the persisted artifact:
  *
  *   - `<path>/centroids`: (cell INT, c ARRAY<DOUBLE>) — the L2-NORMALIZED
  *     coarse centroids, ≤ nCells rows, read whole and folded into a
  *     broadcast literal at probe time (the probe ranking is a per-query
  *     scan of this tiny table, never a shuffle); written once at build —
  *     the frozen coarse quantizer (append assigns against it, retraining
  *     is a scheduled rebuild);
  *   - `<path>/lists`: the inverted lists (id, v) laid out as
  *     MANIFEST-COMMITTED generations per coarse cell
  *     (sources.ManifestedPartitions, r15 verdict order #1): append and
  *     maintenance write NEW immutable `g=<v>/cell=<n>/` directories and
  *     flip a marker-last manifest commit — a crash mid-maintenance
  *     leaves the previous snapshot fully intact (no two-move window in
  *     which a probe sees a cell missing), a probe pinned to version v
  *     keeps serving v bit-exactly while maintenance commits v+1, and a
  *     probe-only reader statically PRUNES the scan to exactly the probed
  *     cells' live directories (≈ nProbe·√n rows per query off storage
  *     instead of rescanning the corpus).
  *
  * Determinism contract: centroids come from Ann.hashCentroids (exact
  * decimal component sums) and doubles round-trip parquet bit-exactly, so
  * probing the persisted index returns results bit-identical to the
  * in-query Ann.ivfTopK with the same geometry — which is what lets the
  * q_s_ivf_persist gate share q_s_ivf_scaled's DuckDB oracle.
  */
object IvfIndex {

  private val Lists = "lists"
  private val Cell = "cell"

  /** Build + persist the index for `corpus` at `path` (overwrites).
    * `pretrained` supplies RAW (unnormalized) coarse centroids instead of
    * training on `corpus` — the rebuild-with-frozen-quantizer path
    * AppendIvfSpec uses to prove append ≡ rebuild.
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
      path: String,
      pretrained: Option[Seq[(Int, Array[Double])]] = None): Unit = {
    Dirs.delete(path) // overwrite contract: no stale generations or markers
    val sp = corpus.sparkSession
    import sp.implicits._
    val centroids = pretrained.getOrElse(
      Ann.hashCentroids(corpus, idCol, vecCol, nCells))
    Ann.normalizeCentroids(centroids)
      .map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // assignCells keeps the cast-to-double vector alongside the cell id;
    // persisting it makes the probe self-contained (no corpus re-read,
    // no re-cast) — the inverted-list generation IS the search payload
    ManifestedPartitions.init(
      Ann.assignCells(corpus, idCol, vecCol, centroids)
        .select(col("id"), col("v"), col(Cell)),
      path, Lists, Cell)
  }

  /** APPEND a vector batch to a persisted index WITHOUT retraining: each
    * new vector is assigned to its nearest STORED centroid (the static
    * coarse quantizer practice — a deployment trains the quantizer once
    * and retrains on a slow cadence, because reassigning the whole corpus
    * on every ingest would be a full rebuild) and the batch lands as a
    * NEW manifest-committed generation — probe-time readers see
    * base + appended rows the instant the marker flips, with no rewrite
    * of live data; ingest cost is proportional to the BATCH, never the
    * corpus. Assignment goes through Ann.assignCellsNormalized on the
    * stored normalized centroids, bit-matching the build-time assignment
    * (see that method's note).
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val cents = readCentroids(spark, path)
      .map { case (cell, c) => (cell, c.toArray) }
    ManifestedPartitions.append(spark, path, Lists, Cell,
      Ann.assignCellsNormalized(delta, idCol, vecCol, cents)
        .select(col("id"), col("v"), col(Cell)))
  }

  /** COMPACT fragmented inverted lists (r14 verdict order #2): each
    * `append` commits one generation, so at daily-ingest cadence a hot
    * cell's live rows spread over K generation files and probe latency
    * decays (K footer reads + K tiny row groups instead of one sequential
    * scan). This is the maintenance operator a deployment schedules: find
    * the cells whose live rows span more than one file, rewrite ONLY
    * those into a fresh single-file generation (a partition-PRUNED read
    * of just the fragmented cells), and commit the manifest that retires
    * the old generations — marker-last, so a crash at ANY point leaves
    * the pre-compaction snapshot fully live (the r15 two-move window is
    * gone). Cell-local by construction: rows never move across cells,
    * untouched cells' files are never opened, and probe results are
    * bit-identical before/after (deterministic tie-break + exact double
    * round-trip make file order immaterial — CompactIvfSpec asserts
    * both). Returns the number of compacted cells.
    */
  def compact(spark: SparkSession, path: String): Int =
    ManifestedPartitions.compact(spark, path, Seq((Lists, Cell)))

  /** DELETE a tombstone batch (vector ids) from the persisted index — the
    * GDPR leg of the ANN lifecycle, ManifestedPartitions.delete keyed by
    * `id`: only the cells holding tombstoned vectors are rewritten
    * (untouched cells' files are never opened; a fully-emptied cell
    * simply drops out of the manifest). Probes afterwards can never
    * return a deleted vector — the new snapshot has no such row, and the
    * dead generations' bytes are physically removed by the retention GC
    * ([[expire]]; a deployment runs it after its time-travel horizon
    * passes). The coarse quantizer is untouched (centroids retrain on a
    * slow cadence, exactly like append's frozen-quantizer contract).
    * Returns the rows purged — tombstones are deduplicated first so a
    * repeated id in the batch cannot inflate the count (ADVICE r15).
    */
  def delete(spark: SparkSession, path: String,
      tombstones: DataFrame): Long =
    ManifestedPartitions.delete(spark, path, Seq((Lists, Cell)), "id",
      tombstones)()

  /** RETENTION GC: expire manifest versions below the keep-horizon and
    * physically delete the generations no retained version references —
    * where a deleted vector's bytes actually go away. Below-horizon
    * time travel fails loudly (marker-first expiry). Returns
    * (expired versions, deleted generation count).
    */
  def expire(spark: SparkSession, path: String,
      keepLast: Int): (Seq[Long], Int) =
    ManifestedPartitions.expire(spark, path, Seq((Lists, Cell)), keepLast)

  /** Probe-only search against a persisted index: rank the broadcast
    * centroid table per query (top `nProbe` cells by dot product against
    * the STORED normalized centroids — no re-normalization, so scores
    * match the build-time ranking bit-for-bit), statically prune the
    * inverted-list scan to the batch's probed-cell union, and exact-cosine
    * re-rank inside the probed lists. Never touches the original corpus.
    * `version` pins the manifest snapshot (r15 verdict order #3): a
    * pinned probe keeps serving version v bit-exactly while maintenance
    * commits v+1; None reads the latest committed snapshot.
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int, nProbe: Int,
      version: Option[Long] = None): DataFrame = {
    // materialize the probed-cell ranking ONCE (ADVICE r14): qCells is
    // consumed twice — collected for the pruning list and broadcast into
    // the re-rank join — and without this the centroids parquet read and
    // the probe-ranking window would re-run on the second consumption
    val qCells = queryCells(spark, path, queries, qidCol, vecCol, nProbe)
      .localCheckpoint(true)
    // the batch's probed-cell union is bounded by min(nCells, Q·nProbe)
    // — a driver collect of at most the coarse-cell count, which becomes
    // the STATIC pruning list: only the probed cells' live directories
    // are handed to the scan (PersistedIvfSpec asserts the pruning)
    val probed = qCells.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val lists = prunedLists(spark, path, probed, version)
      .select(col("id").as("nn_id"), col("v").as("cv"), col(Cell))
    val scored = lists.join(broadcast(qCells), Seq(Cell))
      .withColumn("cos", Dedup.cosine(col("cv"), col("qv")))
    scored.withColumn("rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("cos"), col("nn_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "cos")
  }

  /** Per-query probed cells: (query_id, qv, cell) — the query batch
    * scored against the broadcast STORED normalized centroids (no
    * re-normalization, so the ranking matches build-time bit-for-bit),
    * top `nProbe` cells each.
    */
  def queryCells(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, nProbe: Int): DataFrame = {
    VectorFunctions.register(spark)
    val cents = readCentroids(spark, path)
    // one Literal node per list (same rationale as Ann: an element-wise
    // array(lit…) tree costs cells × dim analysis/codegen nodes)
    val centLit = typedlit(cents.map(_._2))
    val cellLit = typedlit(cents.map(_._1))
    val q = queries.select(col(qidCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv"))
    q.select(col("query_id"), col("qv"),
        explode(zip_with(centLit, cellLit, (c, cid) => struct(
          call_function("graft_dot", col("qv"), c).as("s"),
          cid.as("c")))).as("sc"))
      .withColumn("probe_rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("sc.s"), col("sc.c"))))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("qv"), col("sc.c").as("cell"))
  }

  // the stored (cell, normalized centroid) rows, driver-cached per fileset
  // identity (sources.ArtifactCache): the centroids table is written once
  // at build and frozen thereafter, yet append and every probe re-ran a
  // whole Spark collect job to fetch its few KB — a rebuild (new
  // mtime/len) re-reads, so the cached rows are always bit-identical to
  // an uncached collect
  private def readCentroids(spark: SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    graft.sources.ArtifactCache.collected(s"$path/centroids") {
      spark.read.parquet(s"$path/centroids")
        .select("cell", "c").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }

  /** The inverted-list scan pruned to `probed` cells at the pinned (or
    * latest) manifest version — only those cells' live generation
    * directories are opened (static pruning by path construction). If no
    * probed cell holds live rows (legal after deletes — including a
    * fully-vacuumed snapshot), the read returns an empty frame with the
    * dataset's persisted schema (ADVICE r16: the old take(1) fallback
    * crashed when deletes had emptied the entire manifest).
    */
  def prunedLists(spark: SparkSession, path: String, probed: Seq[Int],
      version: Option[Long] = None): DataFrame =
    ManifestedPartitions.read(spark, path, Lists, Cell,
      ManifestedPartitions.prunedEntries(spark, path, Lists, probed, version))

  /** Recursive delete of a staged index dir: `sources.Dirs.delete` under
    * the name the benchmark harness and the specs call.
    */
  def deleteDir(p: String): Unit = graft.sources.Dirs.delete(p)
}
