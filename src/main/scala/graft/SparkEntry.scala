package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY §2 has a testdata twin registered here; each
  * SQL-expressible one carries a DuckDB oracle (hash-compared by the driver
  * at sf0.01). Catalogs keep each Spark query and its oracle side by side.
  */
object SparkEntry {

  private def catalogs: Seq[QueryDef] =
    OlapCatalog.all ++ WindowCatalog.all ++ JoinCatalog.all ++
      MiningCatalog.all ++ TextCatalog.all ++ DedupCatalog.all ++
      SimilarityCatalog.all ++ EventsCatalog.all ++ MiscCatalog.all ++
      MultimodalCatalog.all ++ SketchCatalog.all ++ FinanceCatalog.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A1 quarterly-price pivot — the minimum end-to-end slice (SURVEY §7.3).
    */
  def entry(spark: SparkSession): DataFrame =
    OlapCatalog.a1QuarterlyPrice.query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Non-ANSI evaluation is pinned per call: DuckDB's aggregates (corr over
    * a constant/1-row frame, x/0) yield NULL, while Spark 4's ANSI mode
    * throws — non-ANSI restores the matching NULL semantics. A
    * [[GraftSession.build]] session is already non-ANSI; the pin is for
    * callers that build their own session (perfbench does).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        s.conf.set("spark.sql.ansi.enabled", "false")
        q.query(s, dir)
      }
    }.toMap

  /** Dump order for Verify: catalog order with the measured-expensive
    * queries moved LAST, so a truncated driver run (the round-11 failure
    * mode) keeps the maximum number of per-query greens. Names in the
    * heavy set were the slowest dumps in a profiled sf0.01 Verify run.
    */
  def verifyOrder: Seq[String] = {
    val names = catalogs.map(_.name)
    // a renamed/removed query must fail loudly, not silently drop out of
    // the cheap-first ordering (ADVICE r12)
    val stale = heavyLast -- names.toSet
    require(stale.isEmpty, s"heavyLast names not in catalogs: $stale")
    val (heavy, cheap) = names.partition(heavyLast)
    cheap ++ heavy
  }

  private val heavyLast: Set[String] = Set(
    // top-32 dump wall-clocks of the r15 end-of-round profiled sf0.01
    // full Verify run (360 queries, local[16]; cutoff 2.05 s — the tail
    // below is flat ~1.3-2.0 s). Refresh each round if the tail moves.
    "q_pipeline_mv_timetravel", "q_pipeline_incr_mv",
    "q_s_ivf_stream_ingest", "q_e_restart_reshuffle_stream",
    "q_s_ivfpq_append", "q_s_ivfpq_persist", "q_e_restart_window_stream",
    "q_pipeline_incr_vacuum", "q_s_pq_topk", "q_e_rocksdb_restart_stream",
    "q_s_ivf_compact", "q_e_rocksdb_changelog_stream", "q_e_rocksdb_stream",
    "q_e_restart_stream", "q_f_interp", "q_pipeline_incr_e2e",
    "q_m33_dbscan", "q_s_ivf_append", "q_t_bm25_append", "q_s_knn_ivf",
    "q_m23_isotonic", "q_m34_chow", "q_s_ivf_persist",
    "q_pipeline_ivfpq_e2e", "q_m13_robust", "q_m47_feature_rank",
    "q_pipeline_e2e", "q_e_interval_stream", "q_a29_boxplot",
    "q_pipeline_incr_delete", "q_e_left_join_stream",
    "q_e_full_join_stream",
    // the two index-delete gates added after the profile run: both are
    // build + vacuum + probe lifecycles, measured 2.7-2.9 s at local[4]
    "q_t_bm25_delete", "q_s_ivf_delete",
    // r16 lifecycle gates, measured at their first sf0.01 Verify runs
    // (local[4]): the streaming-MV ingest runs two stream phases + a
    // replay (16.9 s); the others are build + maintain + probe cycles
    // in the 4-8 s band
    "q_pipeline_mv_stream_ingest", "q_pipeline_mv_expire",
    "q_s_ivf_torn_compact", "q_s_ivf_snapshot_probe",
    // r18 OCC/race gates: build + racing maintenance + probe lifecycles
    "q_mp_cas_default", "q_s_ivfpq_occ_maint", "q_pipeline_mv_occ",
    // r18 profile refresh: crossed the ~2.4 s dump tail at sf0.01
    "q_pipeline_stream_e2e",
    "q_s_ivfpq_compact", "q_s_ivfpq_delete", "q_s_ivf_occ_maint",
    // r17 lifecycle gates, measured at their first sf0.01 Verify runs
    // (local[4]): PQ snapshot probe = build + delete + three probes
    // (~14 s); BM25 stream ingest runs two stream phases + a replay;
    // the OCC race is two staged rewrites + retry + probe
    "q_s_ivfpq_snapshot_probe", "q_t_bm25_stream_ingest",
    "q_t_bm25_occ_maint")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. SQL may
    * reference Spark-computed aux dumps (below) via the `__VERIFY_OUT__`
    * placeholder, which Verify substitutes with the absolute out dir. */
  def oracleSql: Map[String, String] =
    catalogs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Spark-computed intermediates (LSH signatures/buckets/shingles, IVF
    * cells/centroids) that Verify writes under `<outDir>_auxdata/<name>` —
    * a SIBLING of outDir, outside the driver's result glob — so the
    * engine-specific-hash oracles can replay banding/probing + verification
    * in DuckDB (SQL references them as `__VERIFY_OUT__/_aux/<name>`, which
    * Verify rewrites to the sibling path). */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] =
    DedupCatalog.auxDumps ++ SimilarityCatalog.auxDumps ++
      MiscCatalog.auxDumps ++ WindowCatalog.auxDumps ++
      SketchCatalog.auxDumps ++ TextCatalog.auxDumps ++
      FinanceCatalog.auxDumps
}
