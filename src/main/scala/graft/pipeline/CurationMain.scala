package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Capstone batch job: the training-data curation pipeline composed from
  * the engine's operators — exact dedup → near-dup pruning (MinHash+LSH)
  * → quality filtering (with language ID + token accounting) → repetition
  * gate (Gopher-rule family) → corpus-LM score gate (CCNet shape) → PII
  * scrub → DSIR importance weights + Gumbel resampling keys (annotation
  * for downstream mixture sampling) — writing a curated corpus plus a
  * per-stage report. Every stage is the same
  * shuffle-bounded operator the catalog gates; this main is the "run your
  * 100 TB corpus through it" entry point.
  *
  * Usage: runMain graft.pipeline.CurationMain <docsParquet> <outDir>
  */
object CurationMain {

  final case class StageCount(stage: String, docs: Long)

  /** Curated corpus + per-stage counts + an explicit release for the
    * blocks backing `curated`. The pipeline frees every UPSTREAM
    * intermediate as soon as the next stage materializes; only the final
    * stage's blocks survive (the `curated` frame reads them), so the
    * caller closes once done consuming. A locally-checkpointed RDD stays
    * registered with the session until unpersisted (verified empirically
    * on Spark 4.1 — GC does not reclaim it), so the lifecycle must be
    * explicit, not garbage-collected.
    */
  final case class CurationResult(curated: DataFrame, stages: Seq[StageCount],
      private val blocks: Seq[org.apache.spark.rdd.RDD[_]])
      extends AutoCloseable {
    override def close(): Unit = blocks.foreach(_.unpersist(blocking = true))
  }

  /** Runs the full curation pipeline. NOT safe to run concurrently with
    * other queries on the same SparkSession: stage cleanup frees the
    * blocks each stage created by set-differencing the session-global
    * `sc.getPersistentRDDs` registry (some of those blocks are internal to
    * the dedup operators, so no direct handle exists), and a block
    * registered by an unrelated concurrent query between two snapshots
    * would be mis-attributed and unpersisted. Fine as the terminal batch
    * job this main is (one driver, one job at a time); give the pipeline
    * its own session (`SparkSession.newSession()` shares the context but
    * NOT the registry — the registry is context-global, so a dedicated
    * SparkContext is required for true isolation) if embedding it in a
    * concurrent service.
    */
  def curate(spark: SparkSession, docs: DataFrame,
      minTokens: Long = 8, maxStopwordRatio: Double = 0.9,
      jaccardThreshold: Double = 0.85,
      minDistinctTokenRatio: Double = 0.1,
      maxTopBigramRatio: Double = 0.9,
      lmScoreQuantile: Double = 0.01): CurationResult = {
    val sc = spark.sparkContext
    def persisted(): collection.Map[Int, org.apache.spark.rdd.RDD[_]] =
      sc.getPersistentRDDs
    val base = persisted().keySet
    val stages = scala.collection.mutable.ArrayBuffer[StageCount]()
    stages += StageCount("input", docs.count())

    // 1. exact dedup (content fingerprint, keep min id). Each stage is
    // materialized eagerly via localCheckpoint so downstream stages read
    // blocks instead of re-running the lineage.
    val exact = Dedup.dropExactDups(docs, "doc_id", "text")
      .localCheckpoint(true)
    stages += StageCount("exact_dedup", exact.count())

    // 2. near-dup pruning: close the MinHash-verified pairs into clusters
    // (connected components) and keep each cluster's min-id representative
    // — per-pair loser-dropping mis-handles chains a~b~c with a!~c (the
    // operator eagerly materializes its shingle table here too)
    val nearPairs = Dedup.minHashLshPairs(exact, "doc_id", "text",
      n = 3, numPerm = 32, bands = 8, threshold = jaccardThreshold)
    val losers = Dedup.connectedComponents(nearPairs, "id1", "id2")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val mid = persisted()
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // deduped's blocks now carry everything downstream needs — free the
    // exact-dedup stage and the operator-internal shingle blocks
    (mid.keySet -- base).foreach(id =>
      mid(id).unpersist(blocking = false))
    stages += StageCount("near_dedup", deduped.count())

    // 3. quality gate + language ID + token accounting. Checkpointed so
    // the two downstream gates (each of which scans the text several
    // times: gram explode, join-back, lm passes) read blocks, not lineage.
    val scored = TextAnalysis.withLangId(
      TextAnalysis.withQuality(deduped))
    val beforeQuality = persisted()
    val quality = scored
      .filter(col("n_tokens") >= minTokens &&
        col("stopword_ratio") <= maxStopwordRatio)
      .localCheckpoint(true)
    (beforeQuality.keySet -- base).foreach(id =>
      beforeQuality(id).unpersist(blocking = false))
    stages += StageCount("quality_gate", quality.count())

    // 4. repetition gate (Gopher-rule family): drop looping documents
    val rep = TextAnalysis.repetitionSignals(quality, "doc_id", "text")
      .filter(col("distinct_token_ratio") >= minDistinctTokenRatio &&
        (col("top_bigram_ratio").isNull ||
          col("top_bigram_ratio") <= maxTopBigramRatio))
      .select("doc_id")
    val beforeRep = persisted()
    val repGated = quality.join(rep, Seq("doc_id")).localCheckpoint(true)
    (beforeRep.keySet -- base).foreach(id =>
      beforeRep(id).unpersist(blocking = false))
    stages += StageCount("repetition_gate", repGated.count())

    // 5. LM-score gate (CCNet shape): drop the lowest `lmScoreQuantile`
    // tail by mean unigram log-prob — the model is the surviving corpus
    // itself, so the threshold is a 1-value aggregate broadcast, not a
    // driver-side sort. The narrow (doc_id, lm_logprob) frame is
    // checkpointed because both the cut aggregate and the keep-filter
    // consume it.
    val lm = TextAnalysis.lmScore(repGated, "doc_id", "text")
      .select(col("doc_id"), col("lm_logprob"))
      .localCheckpoint(true)
    val cut = lm.agg(expr(
      s"percentile_approx(lm_logprob, $lmScoreQuantile, 10000)").as("cut"))
    val lmKeep = lm.crossJoin(broadcast(cut))
      .filter(col("lm_logprob").isNull || col("lm_logprob") >= col("cut"))
      .select("doc_id")
    // 6. PII scrub on the survivors (URL → email → phone cascade), then
    // fingerprint the text actually shipped
    val curated = repGated.join(lmKeep, Seq("doc_id"))
      .withColumn("text", TextAnalysis.scrubPii(col("text")))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    stages += StageCount("lm_gate", curated.count())
    // 7. DSIR importance weights vs the pipeline's own English slice, plus
    // Gumbel-max resampling keys on the SHIPPED (scrubbed) text —
    // annotation, not a gate: downstream mixture construction takes a
    // weighted sample by ranking `resample_key` descending (top-k under
    // Gumbel noise ≡ sampling ∝ exp(dsir_weight)), reproducibly, because
    // the uniforms are content-addressed rather than rand().
    val shipped = curated.join(
      graft.text.Dsir.weights(curated, "doc_id", "text",
        col("lang_pred") === "en").select("doc_id", "dsir_weight"),
      Seq("doc_id"), "left")
      .withColumn("resample_key",
        col("dsir_weight")
          - log(-log(TextAnalysis.contentUniform(col("doc_id")))))
    val live = persisted().filterNot { case (id, _) => base(id) }
    CurationResult(shipped, stages.toSeq, live.values.toSeq)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.pipeline.CurationMain <docsParquet> <outDir>")
      sys.exit(2)
    }
    val Array(in, outDir) = args
    val spark = graft.GraftSession.build()
    import spark.implicits._

    val res = curate(spark, spark.read.parquet(in))
    res.curated.write.mode("overwrite").parquet(s"$outDir/curated")
    res.stages.toDF().coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/report")
    res.stages.foreach(s => println(f"[curate] ${s.stage}%-14s ${s.docs}%8d docs"))
    val langs = res.curated.groupBy("lang_pred").count().orderBy("lang_pred")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
    println(s"[curate] languages: $langs")
    res.close()
    spark.stop()
  }
}
