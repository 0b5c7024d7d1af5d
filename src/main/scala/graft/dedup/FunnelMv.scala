package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** PERSISTED materialized view of the curation funnel (r14 verdict order
  * #1): the artifact-lifecycle form of the insert-only IVM that
  * q_pipeline_incr_e2e proves in-query. A 100 TB corpus does not recompute
  * its funnel per batch — it materializes the curated view ONCE (a
  * full-scan job, amortized like an index build) and each arriving insert
  * batch touches ONLY the persisted state plus the batch itself:
  *
  *   - `<path>/view`: (stage_ord, stage, n_docs, n_tokens) — the four
  *     funnel-stage counters (input, exact-dedup survivors, quality-gate
  *     survivors, repetition-gate survivors);
  *   - `<path>/fpindex`: (fp) — the DISTINCT normalized-text fingerprints
  *     of every doc the view has absorbed; at cluster scale this is
  *     bucketed by fp so the insert batch's anti-probe is a co-located
  *     join whose stream side is the (small) batch, never a corpus rescan.
  *
  * `applyInserts` reads the persisted view + index + the staged batch and
  * NEVER the base corpus text (IncrMvSpec asserts the plan's file scans);
  * exactness of the update — updated view ≡ full recompute over
  * base ∪ batch with arrival-order keep-first — is the insert-only-IVM
  * property the q_pipeline_incr_mv gate pins against the full-recompute
  * DuckDB oracle. (Near-dup CLUSTER dedup is deliberately outside this
  * view: a new doc can bridge two existing clusters and change which BASE
  * docs survive, so it is not insert-only maintainable — same honest
  * scope as the in-query gate.)
  */
object FunnelMv {

  /** Keep-first exact dedup: one survivor per fingerprint, earliest by
    * `order` (arrival order for a combined corpus, doc_id within a batch).
    */
  def keepFirst(df: DataFrame, order: Seq[org.apache.spark.sql.Column])
      : DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy("fp").orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Per-path stage rows (stage_ord, stage, n_docs, n_tokens) over input +
    * exact survivors + the two per-doc gates. `input` and `exact` must
    * expose (doc_id, text), with doc_id unique per row (the existing
    * contract — the old stage-4 join assumed it too).
    *
    * r19: the three survivor stages are ONE conditional aggregation over
    * the flagged survivor rows instead of a union of three aggregate
    * subtrees over two localCheckpointed copies (guide §1.2 "don't compute
    * things twice"/§2.4 "share one pass"). The per-doc gate flags are pure
    * functions of the text, so `count`/`sum` gated on them reproduce the
    * old per-stage filters value-for-value: quality = n_tokens/stopword
    * bounds; repetition = the same repetitionSignals predicate, with a
    * doc that has no signal row (NULL ratios) excluded by coalesce(false)
    * exactly as the old filter(NULL) dropped it. `input`'s stage row stays
    * its own subtree over the caller-materialized frame.
    */
  def stageCounts(input: DataFrame, exact: DataFrame, minTokens: Int,
      maxStopword: Double, minDistinct: Double,
      maxTopBigram: Double): DataFrame = {
    // ONE materialized copy of the flagged survivors (the old code made
    // TWO: ex + quality): both the aggregation spine and the
    // repetition-signal explode read these blocks, so the keep-first
    // window and the stopword regex chain run exactly once.
    val q = TextAnalysis.withQuality(exact)
      .select(col("doc_id"), col("text"),
        col("n_tokens").as("__ntok"),
        (col("n_tokens") >= minTokens &&
          col("stopword_ratio") <= maxStopword).as("__q"))
      .localCheckpoint(true)
    val rs = TextAnalysis.repetitionSignals(
        q.filter(col("__q")).select("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id"),
        (col("distinct_token_ratio") >= minDistinct &&
          (col("top_bigram_ratio").isNull ||
            col("top_bigram_ratio") <= maxTopBigram)).as("__r"))
    val keep4 = col("__q") && coalesce(col("__r"), lit(false))
    // count aggregates are coalesced too: over an EMPTY survivor frame
    // sum(when...) is NULL where the old count(...) was 0
    val one = q.join(rs, Seq("doc_id"), "left").agg(
      count(lit(1)).as("n2"),
      coalesce(sum(col("__ntok")), lit(0L)).as("t2"),
      coalesce(sum(when(col("__q"), 1L).otherwise(0L)), lit(0L)).as("n3"),
      coalesce(sum(when(col("__q"), col("__ntok")).otherwise(0L)), lit(0L))
        .as("t3"),
      coalesce(sum(when(keep4, 1L).otherwise(0L)), lit(0L)).as("n4"),
      coalesce(sum(when(keep4, col("__ntok")).otherwise(0L)), lit(0L))
        .as("t4"))
    val inputRow = input.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(TextAnalysis.wsTokenCount(col("text"))), lit(0L))
          .as("n_tokens"))
      .select(lit(1).as("stage_ord"), lit("input").as("stage"),
        col("n_docs"), col("n_tokens"))
    val survivorRows = one.select(explode(array(
        struct(lit(2).as("stage_ord"), lit("exact_dedup").as("stage"),
          col("n2").as("n_docs"), col("t2").as("n_tokens")),
        struct(lit(3).as("stage_ord"), lit("quality_gate").as("stage"),
          col("n3").as("n_docs"), col("t3").as("n_tokens")),
        struct(lit(4).as("stage_ord"), lit("repetition_gate").as("stage"),
          col("n4").as("n_docs"), col("t4").as("n_tokens")))).as("s"))
      .select(col("s.stage_ord"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
    inputRow.unionByName(survivorRows)
  }

  /** Materialize the funnel view + fingerprint index for `base` at `path`
    * (overwrites). `base` must expose (doc_id, text); within-base
    * keep-first orders by doc_id.
    */
  def write(base: DataFrame, path: String, minTokens: Int,
      maxStopword: Double, minDistinct: Double,
      maxTopBigram: Double): Unit = {
    val withFp = base.select(col("doc_id"), col("text"))
      .withColumn("fp", md5(TextAnalysis.normText(col("text"))))
      .localCheckpoint(true) // feeds both stage counting and the index
    stageCounts(withFp, keepFirst(withFp, Seq(col("doc_id"))),
        minTokens, maxStopword, minDistinct, maxTopBigram)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/view")
    withFp.select("fp").distinct()
      .write.mode("overwrite").parquet(s"$path/fpindex")
  }

  /** Persist the DELETE-CAPABLE per-doc index at `path` (overwrites):
    * `idx` rows (doc_id, batch, fp, n_tok, q, qr — per-doc gate flags
    * computed once at ingest) laid out as manifest-committed generations
    * per `fpb`, the fingerprint's hash bucket
    * (sources.ManifestedPartitions), so tombstone vacuuming later
    * rewrites only the buckets holding deleted docs instead of the whole
    * index — and a crash mid-vacuum leaves the previous snapshot fully
    * live (r15 verdict order #1). The funnel view is recomputable from
    * this artifact alone — flags are insert-time state, so no maintenance
    * operation ever re-reads corpus text.
    */
  def writeDocIndex(idx: DataFrame, path: String, nBuckets: Int): Unit =
    graft.sources.ManifestedPartitions.init(
      idx.withColumn("fpb",
        pmod(xxhash64(col("fp")), lit(nBuckets.toLong)).cast("int")),
      path, "docindex", "fpb")

  /** The latest committed snapshot of the per-doc index. */
  def readDocIndex(spark: SparkSession, path: String): DataFrame =
    graft.sources.ManifestedPartitions.readLatest(
      spark, path, "docindex", "fpb")

  /** VACUUM a tombstone batch out of the persisted index: physically
    * rewrite ONLY the fp-buckets holding deleted docs (GDPR-style removal
    * — a logical tombstone list is not deletion; the bytes must go) —
    * ManifestedPartitions.delete keyed by `doc_id`. At cluster scale a
    * doc_id-keyed sidecar or fp-carrying delete feed makes even the
    * affected-bucket discovery probe-local. A fully-tombstoned bucket
    * drops out of the manifest, a crash at any point leaves the
    * pre-vacuum snapshot intact, and keep-first succession needs no
    * special casing because dead rows are gone from every later snapshot
    * read (their bytes are removed once retention GC passes the
    * time-travel horizon). Returns the number of rows purged; tombstones
    * are deduplicated first, so a repeated doc_id cannot inflate it
    * (q_pipeline_incr_vacuum pins before - after == purged).
    */
  def vacuum(spark: SparkSession, path: String,
      tombstones: DataFrame): Long =
    graft.sources.ManifestedPartitions.delete(spark, path,
      Seq(("docindex", "fpb")), "doc_id", tombstones)()

  /** Apply an insert batch: within-batch keep-first, anti-probe against
    * the PERSISTED fingerprint index, per-doc gates on the survivors, add
    * the batch's stage counts to the PERSISTED view. Reads only `path`
    * artifacts + `delta` — never the base corpus. Returns the updated
    * view (the maintenance job would write it back + append the batch's
    * fps to the index; the gate publishes it for the oracle compare).
    */
  def applyInserts(spark: SparkSession, path: String, delta: DataFrame,
      minTokens: Int, maxStopword: Double, minDistinct: Double,
      maxTopBigram: Double): DataFrame =
    applyInsertsTo(spark.read.parquet(s"$path/view"),
      spark.read.parquet(s"$path/fpindex"), delta,
      minTokens, maxStopword, minDistinct, maxTopBigram)

  /** The insert-application core over explicit view/index frames — shared
    * by [[applyInserts]] (plain persisted layout) and the
    * versioned-manifest gate, where the view frame comes from a
    * VersionedView snapshot read instead of a fixed directory.
    */
  def applyInsertsTo(view: DataFrame, fpIndex: DataFrame, delta: DataFrame,
      minTokens: Int, maxStopword: Double, minDistinct: Double,
      maxTopBigram: Double): DataFrame =
    applyInsertsFp(view, fpIndex,
      delta.select(col("doc_id"), col("text"))
        .withColumn("fp", md5(TextAnalysis.normText(col("text"))))
        .localCheckpoint(true),
      minTokens, maxStopword, minDistinct, maxTopBigram)

  /** [[applyInsertsTo]] over an ALREADY-fingerprinted (and materialized)
    * batch — the streaming ingest computes (doc_id, text, fp) once for
    * its bucket probe and passes it here instead of re-fingerprinting
    * and re-checkpointing the same rows per CAS attempt (r18
    * optimization: one fewer eager materialization job per micro-batch).
    */
  def applyInsertsFp(view: DataFrame, fpIndex: DataFrame,
      withFp: DataFrame, minTokens: Int, maxStopword: Double,
      minDistinct: Double, maxTopBigram: Double): DataFrame = {
    val survivors = keepFirst(withFp, Seq(col("doc_id")))
      .join(fpIndex, Seq("fp"), "left_anti")
    val deltaStages = stageCounts(withFp, survivors,
      minTokens, maxStopword, minDistinct, maxTopBigram)
    view
      .unionByName(deltaStages)
      .groupBy("stage_ord", "stage")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  // ------------------------------------------------------------------
  // VERSIONED STREAMING LIFECYCLE. The fp index is ONE fp-bucketed
  // ManifestedPartitions dataset under the root, and the funnel view and
  // the applied-batches ledger ride its markers as sidecar tables:
  //   - writeVersioned: base view + fp index + empty ledger as version 1;
  //   - ingestBatch: a batch's fps land as one GENERATION under the same
  //     marker as the updated view, exactly once (ManifestedPartitions.
  //     ingestOnce); its anti-probe statically prunes to the batch's fp
  //     buckets;
  //   - compactFps: scheduled compaction folds the generations, so
  //     per-batch cost depends on the compaction cadence, never on
  //     stream age.
  // ------------------------------------------------------------------

  /** Dataset name of the fp-bucketed fingerprint index. */
  val FpsData = "fps"

  private def withFpb(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("fpb",
      pmod(xxhash64(col("fp")), lit(nBuckets.toLong)).cast("int"))

  /** Materialize base view + fp-bucketed fp index + empty applied-batches
    * ledger at `root` as version 1 — ONE marker commits all three
    * (overwrites any prior state at the root).
    */
  def writeVersioned(base: DataFrame, root: String, nBuckets: Int,
      minTokens: Int, maxStopword: Double, minDistinct: Double,
      maxTopBigram: Double): Unit = {
    val spark = base.sparkSession
    val withFp = base.select(col("doc_id"), col("text"))
      .withColumn("fp", md5(TextAnalysis.normText(col("text"))))
      .localCheckpoint(true)
    val view = stageCounts(withFp, keepFirst(withFp, Seq(col("doc_id"))),
      minTokens, maxStopword, minDistinct, maxTopBigram)
    graft.sources.ManifestedPartitions.init(
      withFpb(withFp.select("fp").distinct(), nBuckets),
      root, FpsData, "fpb",
      sidecars = Map("view" -> view.coalesce(1),
        graft.sources.ManifestedPartitions.Applied ->
          graft.sources.ManifestedPartitions.emptyLedger(spark)))
  }

  /** Snapshot read of the funnel view at version `v` — the `@view`
    * sidecar table that version's marker body references.
    */
  def readView(spark: SparkSession, root: String, v: Long): DataFrame =
    graft.sources.ManifestedPartitions.readSidecarTable(
      spark, root, "view", v)

  /** Snapshot read of the applied-batches ledger at version `v`. */
  def readApplied(spark: SparkSession, root: String, v: Long): DataFrame =
    graft.sources.ManifestedPartitions.readSidecarTable(
      spark, root, graft.sources.ManifestedPartitions.Applied, v)

  /** Ingest micro-batch `batchId` EXACTLY ONCE (ManifestedPartitions.
    * ingestOnce — a re-delivered batch SKIPS before any fingerprinting or
    * staging, its output version already committed and immutable). A
    * first delivery stages the batch's fps ONCE as a writer-unique
    * generation, then per CAS attempt anti-probes them against that
    * attempt's fp index and adds the batch's stage counts to that
    * attempt's view — another writer may have absorbed colliding fps, so
    * a lost race recomputes both on the winner's snapshot. Per-batch
    * reads are BOUNDED: the view (1 file), the ledger (1 file), the
    * manifest (marker/driver rows), and the batch's fp buckets' live
    * generations — never versions 1..V. Returns the committed (or
    * already-committed) version.
    */
  def ingestBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long, nBuckets: Int, minTokens: Int, maxStopword: Double,
      minDistinct: Double, maxTopBigram: Double): Long = {
    import graft.sources.{ManifestedPartitions => MP}
    lazy val (withFp, bucketSet, written) = {
      val fps = batch.select(col("doc_id"), col("text"))
        .withColumn("fp", md5(TextAnalysis.normText(col("text"))))
        .localCheckpoint(true)
      // newFps is consumed exactly once (this write), so no checkpoint;
      // the anti-probe's bucket set — the BATCH's fp buckets, outside
      // which nothing can collide — is the written generation's own
      // partition list (writeGen footers), not a second collect job
      val newFps = withFpb(fps.select("fp").distinct(), nBuckets)
      val staged = MP.writeGen(newFps, root, FpsData, "fpb", MP.freshGen())
      (fps, staged.map(_.part).toSet, staged)
    }
    MP.ingestOnce(spark, root, batchId) { (inV, _) =>
      // ONE manifest resolution per attempt serves both the pruned
      // anti-probe and the commit's entry merge
      val entries = MP.readEntries(spark, root, FpsData, inV)
      val fpIndex = MP.read(spark, root, FpsData, "fpb",
        entries.filter(e => bucketSet.contains(e.part)))
        .select("fp")
      val updated = applyInsertsFp(
        readView(spark, root, inV), fpIndex, withFp,
        minTokens, maxStopword, minDistinct, maxTopBigram)
      MP.Commit(Map(FpsData -> (entries ++ written)),
        tables = Map("view" -> updated.coalesce(1)))
    }
  }

  /** Scheduled compaction of the fp index: fold the fragmented buckets'
    * generations to one file each. The view and ledger ride the new
    * marker UNCHANGED via the commit path's auto-carry-forward (their
    * body references are copied from the snapshot each CAS attempt
    * re-reads — so racing an ingest can never install a stale view, r18
    * order #3). Physical layout only — probes and ingests are
    * value-identical before/after; this is what keeps per-batch fp reads
    * BOUNDED as the stream ages. Returns the number of compacted buckets.
    */
  def compactFps(spark: SparkSession, root: String): Int =
    graft.sources.ManifestedPartitions.compact(spark, root,
      Seq((FpsData, "fpb")))
}
