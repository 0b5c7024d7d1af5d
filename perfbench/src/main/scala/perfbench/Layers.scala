package perfbench

/** Per-layer metrics from a traced run. Counts, bytes and times are means
  * per traced operation unless the name says otherwise; the layers are the
  * engine's modules (see perfbench/BENCH.md).
  */
object Layers {
  def metrics(t: Trace, cores: Int): Seq[(String, Double, String)] = {
    val ops = t.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    def per(f: OpCost => Long): Double = ops.map(f).sum / n
    def perS(f: OpCost => Long): Double = ops.map(f).sum / n / 1000.0
    val wallMs = ops.map(_.wallMs).sum.toDouble
    Seq(
      ("plan.actions", per(_.actions), "count"),
      ("plan.analysis_s", perS(_.analysisMs), "s"),
      ("plan.optimization_s", perS(_.optimizationMs), "s"),
      ("plan.physical_s", perS(_.physicalMs), "s"),
      ("scan.input_bytes", per(_.inputBytes), "B"),
      ("scan.input_rows", per(_.inputRows), "rows"),
      ("scan.listing_jobs", per(_.listingJobs), "count"),
      ("exec.jobs", per(_.jobs), "count"),
      ("exec.stages", per(_.stages), "count"),
      ("exec.tasks", per(_.tasks), "count"),
      ("exec.task_run_s", perS(_.taskRunMs), "s"),
      ("exec.task_cpu_s", per(_.taskCpuNs) / 1e9, "s"),
      ("exec.gc_s", perS(_.gcMs), "s"),
      ("exec.shuffle_write_bytes", per(_.shuffleWrite), "B"),
      ("exec.shuffle_read_bytes", per(_.shuffleRead), "B"),
      ("exec.fetch_wait_s", perS(_.fetchWaitMs), "s"),
      ("exec.spill_bytes", per(_.spillBytes), "B"),
      ("exec.core_busy",
        if (wallMs == 0) 0.0 else ops.map(_.taskRunMs).sum / (wallMs * cores), "1"),
      ("driver.gap_s", perS(_.gapMs), "s"),
      ("driver.result_bytes", per(_.resultBytes), "B"),
      ("driver.heap_peak_mb", ops.map(_.heapPeakBytes).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      ("persist.output_bytes", per(_.persistOutputBytes), "B"),
      ("persist.files_written", per(_.filesWritten), "count"),
      ("persist.labeled_s", perS(_.labeledMs), "s"),
      ("stream.batches", per(_.batches), "count"),
      ("stream.add_batch_s", perS(_.addBatchMs), "s"),
      ("stream.query_planning_s", perS(_.queryPlanningMs), "s"),
      ("stream.wal_commit_s", perS(_.walCommitMs), "s"),
      ("stream.commit_offsets_s", perS(_.commitOffsetsMs), "s"),
      ("stream.source_s", perS(_.sourceMs), "s"),
      ("stream.state_commit_s", perS(_.stateCommitMs), "s"),
      ("stream.state_rows", per(_.stateRows), "rows"),
      ("stream.outside_trigger_s",
        ops.map(o => math.max(0L, o.streamWallMs - o.triggerMs)).sum / n / 1000.0, "s"))
  }

  /** The index-lifecycle metrics read zero on workloads with no index. */
  def zeroPersist(wl: Workload): Seq[(String, Double, String)] = wl match {
    case _: Ingest => Nil
    case _ =>
      (for (f <- Seq("ivf", "bm25"); a <- Seq("append", "delete", "compact", "expire", "probe"))
        yield (s"persist.$f.${a}_s", 0.0, "s")) ++ Seq(
        ("persist.max_files_per_part", 0.0, "count"),
        ("persist.versions_live", 0.0, "count"),
        ("persist.space_amp", 0.0, "1"))
  }

  /** Seconds per traced operation that each layer holds for itself. Job
    * time splits into persisted-index write jobs (persist) and the rest
    * (exec, scans included); the time with no job running splits into
    * Catalyst phases (plan), micro-batch machinery outside the batch's own
    * execution (stream) and what is left (driver). The five sum to the
    * operation's wall time, up to clipping at zero.
    */
  def selfTimes(t: Trace): Seq[(String, Double)] = {
    val ops = t.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    def perS(f: OpCost => Long): Double = ops.map(f).sum / n / 1000.0
    def plan(o: OpCost) = o.analysisMs + o.optimizationMs + o.physicalMs
    def stream(o: OpCost) =
      math.max(0L, o.triggerMs - o.addBatchMs) + math.max(0L, o.streamWallMs - o.triggerMs)
    Seq(
      "plan" -> perS(plan),
      "exec" -> perS(o => o.jobUnionMs - o.labeledMs),
      "persist" -> perS(_.labeledMs),
      "stream" -> perS(stream),
      "driver" -> perS(o => math.max(0L, o.gapMs - plan(o) - stream(o))))
  }
}
