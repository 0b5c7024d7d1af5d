package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.Dirs
import graft.streaming.EventStreams.{drainPhase, runToMemory}

import QueryDef._

/** Event-time twins over the `events` table: tumbling-window aggregation
  * (the batch shape of streaming.EventStreams' windowed OHLC) and 30-minute
  * gap sessionization. Hour labels via strftime-style formatting; epoch
  * milliseconds for gap math (identical truncation in both engines).
  */
object EventsCatalog {

  val eventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Hourly × event-type count/avg pivot — the tumbling-window aggregate. */
  val eHourly = QueryDef(
    "q_e_hourly",
    (s, dir) => {
      // events.ts arrives as epoch-µs (footer-normalized by EventsTs —
      // matches what DuckDB sees on its own read of the same file)
      val e = t(s, dir, "events")
        .withColumn("hour",
          date_format(timestamp_micros(col("ts")), "yyyy-MM-dd HH"))
      e.groupBy("hour")
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, eventTypes)
        .orderBy("hour")
    },
    Some(s"""
      SELECT strftime(ts, '%Y-%m-%d %H') AS hour,
             ${eventTypes.map(et =>
      s"""coalesce(count(*) FILTER (event_type = '$et'), 0) AS "$et"""")
      .mkString(", ")}
      FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** Sessionization: a new session starts after a >30 min gap per user;
    * output per-user session and event counts.
    */
  val eSessions = QueryDef(
    "q_e_sessionize",
    (s, dir) => {
      val wu = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("ms", expr("ts div 1000"))
        .withColumn("gap", col("ms") - lag(col("ms"), 1).over(wu))
        .withColumn("brk", when(col("gap") > 30L * 60000, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg((sum(col("brk")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    Some("""
      WITH g AS (
        SELECT user_id,
               epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events)
      SELECT user_id,
             CAST(sum(CASE WHEN gap > 30 * 60000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** The SAME hourly pivot computed by the STREAMING engine: readStream →
    * incremental windowless groupBy aggregation → complete-mode memory
    * sink, then a batch reshape of the sink table (pivot isn't allowed on
    * a streaming aggregate). Gated by the identical oracle SQL as
    * q_e_hourly, so the Structured Streaming execution path itself is
    * driver-hash-checked — not just spec-asserted equal to batch.
    */
  // FileStreamSource requires a directory; the testdata tables are single
  // files, so stage events.parquet into a temp dir once per source file
  // IDENTITY — filesystem file key (inode) + mtime + size — so a
  // regenerated events.parquet invalidates the staged copy instead of the
  // stream silently reading stale data while the batch twin reads fresh.
  // (mtime+size alone can collide when a same-sized rewrite lands within
  // the same millisecond; the file key disambiguates.) One staged dir per
  // (variant, source path): a superseded identity's dir is deleted on
  // replacement, so stale copies don't accumulate on disk. All staged dirs
  // go on JVM exit, through one shutdown hook.
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, String)]()
  private lazy val stagedDirsCleanup = sys.addShutdownHook {
    stagedDirs.values.forEach { case (_, p) => Dirs.delete(p) }
  }
  /** The staged dir of `variant` for `dir`'s events.parquet, made by
    * `stage(source)` when the source's identity has changed or is new.
    */
  private def stagedEventsDir(dir: String, variant: String)(
      stage: java.nio.file.Path => String): String = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val attrs = Files.readAttributes(
      src, classOf[java.nio.file.attribute.BasicFileAttributes])
    val identity = Seq(
      Option(attrs.fileKey).map(_.toString).getOrElse(""),
      attrs.lastModifiedTime.toMillis.toString,
      attrs.size.toString).mkString("|")
    stagedDirs.compute((variant, src.toString), (_, prev) => prev match {
      case (id, p) if id == identity => (id, p)
      case other =>
        if (other != null) Dirs.delete(other._2) // evict superseded copy
        stagedDirsCleanup // register the shutdown hook once, on first staging
        (identity, stage(src))
    })._2
  }

  private[queries] def streamableEventsDir(dir: String): String =
    stagedEventsDir(dir, "copy") { src =>
      val d = Files.createTempDirectory("graft_stream_events")
      Files.copy(src, d.resolve("events.parquet"))
      d.toString
    }

  // Heartbeat-staged variant for OUTER stream-stream joins: ONE
  // Spark-written parquet holding the normalized events PLUS a
  // far-future purchase+click pair for user −1. Outer-join null rows
  // only emit when the watermark proves no match can arrive; a finite
  // input's last rows would otherwise sit in state forever. The
  // heartbeat pushes both sides' watermarks one day past the real data —
  // the streaming analogue of an end-of-stream marker — so the drained
  // sink holds the COMPLETE outer join. Heartbeat rows must be filtered
  // out AFTER the sink drains (see q_e_left_join_stream) — never in the
  // streaming plan, where the filter would push below the watermark
  // operators and un-heartbeat the stream. Single-file staging: the
  // rewrite normalizes ts to µs (raw INT64 = the engine's own
  // convention, which the footer-driven reader accepts), and a one-file
  // dir is the same layout every other staged streaming query reads.
  private[queries] def streamableEventsDirWithHeartbeat(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    stagedEventsDir(dir, "heartbeat") { _ =>
      val ev = t(s, dir, "events") // ts normalized to epoch µs
      // one day past the real data: far beyond any watermark delay +
      // join lag used by the catalog queries
      val hbTs = ev.agg(max(col("ts"))).head.getLong(0) + 86400000000L
      Dirs.scratch("graft_hb_write") { tmp =>
        ev.select(graft.model.Schemas.events.fieldNames.map(col): _*)
          .unionByName(heartbeat(s, hbTs))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val st = Files.list(tmp)
        val part =
          try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst.get()
          finally st.close()
        val d = Files.createTempDirectory("graft_stream_hb")
        Files.move(part, d.resolve("events.parquet"))
        d.toString
      }
    }

  /** The heartbeat pair at `hbTs` (epoch µs) in the events schema: one
    * purchase and one click of user −1 (event ids −1 and −2), value 0.
    * Every heartbeat row has a negative user_id, so `user_id >= 0` on a
    * drained sink drops exactly the heartbeat.
    */
  private def heartbeat(s: SparkSession, hbTs: Long): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(
        Row(-1L, hbTs, -1L, "purchase", 0.0, null),
        Row(-2L, hbTs, -1L, "click", 0.0, null)),
      graft.model.Schemas.events)

  /** How many files under `ckpt/state` end in `suffix` — which kind of
    * state-store file (`.zip` snapshot, `.changelog`) a checkpointed
    * streaming run actually wrote.
    */
  private def stateFiles(ckpt: Path, suffix: String): Long = {
    val st = Files.walk(ckpt.resolve("state"))
    try st.filter(_.getFileName.toString.endsWith(suffix)).count()
    finally st.close()
  }

  /** Stream-stream LEFT OUTER interval join through the ENGINE path
    * (EventStreams.purchaseClickLeftJoin): q_e_interval_stream's join
    * with unmatched purchases emitting null click columns — which only
    * happens via WATERMARK-DRIVEN STATE EVICTION, the mechanism this
    * entry gates. The heartbeat staging pushes the watermark past the
    * real data so every unmatched purchase resolves before the sink
    * drains; the oracle is the plain batch LEFT JOIN.
    */
  val eLeftJoinStream = QueryDef(
    "q_e_left_join_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .purchaseClickLeftJoin(s, streamableEventsDirWithHeartbeat(s, dir),
            lagMinutes = 30)
          .select(col("user_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("purchase_value"),
            unix_micros(col("click_ts")).as("click_us"), col("click_value"))
        runToMemory(s, df, "graft_left_join_stream_sink")
      }
      // heartbeat rows are dropped HERE, on the drained sink — a filter in
      // the streaming plan would be pushed below the watermark operators
      // (Catalyst pushes `user_id >= 0` through the join into both scans),
      // the heartbeat would never reach event-time tracking, and the
      // watermark would freeze below the real data's tail (observed: the
      // last two unmatched purchases never emitted)
      drained.filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("purchase_us"),
          col("purchase_value"), asc_nulls_last("click_us"),
          asc_nulls_last("click_value"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS purchase_us,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id AS click_user, epoch_us(ts) AS click_us,
               value AS click_value
        FROM events WHERE event_type = 'click')
      SELECT p.user_id, p.purchase_us, p.purchase_value,
             c.click_us, c.click_value
      FROM p LEFT JOIN c ON p.user_id = c.click_user
        AND c.click_us >= p.purchase_us - 30 * 60 * 1000000
        AND c.click_us <= p.purchase_us
      ORDER BY p.user_id, purchase_us, purchase_value,
        click_us NULLS LAST, click_value NULLS LAST""")
  )

  /** Stream-stream FULL OUTER interval join through the ENGINE path
    * (EventStreams.purchaseClickFullJoin): unmatched rows on BOTH sides
    * emit via each side's watermark-driven state eviction — with the
    * left join this completes the inner/left/full trio. The heartbeat
    * covers both sides (it is a purchase+click pair) and is dropped
    * post-sink on the coalesced user id; the oracle is the batch FULL
    * JOIN.
    */
  val eFullJoinStream = QueryDef(
    "q_e_full_join_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .purchaseClickFullJoin(s, streamableEventsDirWithHeartbeat(s, dir),
            lagMinutes = 30)
          .select(col("user_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("purchase_value"),
            unix_micros(col("click_ts")).as("click_us"), col("click_value"))
        runToMemory(s, df, "graft_full_join_stream_sink")
      }
      // heartbeat dropped post-sink — the q_e_left_join_stream pushdown trap
      drained.filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), asc_nulls_last("purchase_us"),
          asc_nulls_last("purchase_value"), asc_nulls_last("click_us"),
          asc_nulls_last("click_value"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS purchase_us,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id AS click_user, epoch_us(ts) AS click_us,
               value AS click_value
        FROM events WHERE event_type = 'click')
      SELECT coalesce(p.user_id, c.click_user) AS user_id,
             p.purchase_us, p.purchase_value,
             c.click_us, c.click_value
      FROM p FULL JOIN c ON p.user_id = c.click_user
        AND c.click_us >= p.purchase_us - 30 * 60 * 1000000
        AND c.click_us <= p.purchase_us
      ORDER BY user_id, purchase_us NULLS LAST, purchase_value NULLS LAST,
        click_us NULLS LAST, click_value NULLS LAST""")
  )

  /** Timeout-closed sessionization through the ENGINE path
    * (EventStreams.closedSessions): every (user, session) row emits
    * exactly once when the session CLOSES — inline on a >30 min gap, or
    * via `EventTimeTimeout` once the watermark proves the open session
    * can't be extended. That timeout firing is the mechanism this entry
    * gates: the heartbeat staging pushes the watermark past the finite
    * input so every tail session closes before the sink drains (the
    * heartbeat's own user −1 session is dropped post-sink — never in
    * the streaming plan, same pushdown trap as q_e_left_join_stream).
    * Oracle = the classic gaps-and-islands sessionization in SQL; all
    * columns are epoch-µs integers/counts, bit-exact.
    */
  val eClosedSessions = QueryDef(
    "q_e_closed_sessions",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .closedSessions(s, streamableEventsDirWithHeartbeat(s, dir))
          .toDF()
        runToMemory(s, df, "graft_closed_sessions_sink")
      }
      drained.filter(col("user_id") >= 0L)
        .orderBy("user_id", "start_us")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      g AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER
                      (PARTITION BY user_id ORDER BY us) > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM e),
      s AS (
        SELECT user_id, us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM g)
      SELECT user_id, min(us) AS start_us, max(us) AS end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, start_us""")
  )

  val eHourlyStream = QueryDef(
    "q_e_hourly_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val sdir = streamableEventsDir(dir)
        val df = graft.sources.EventsTs.normalize(
            s.readStream.schema(graft.model.Schemas.events).parquet(sdir),
            sdir)
          .withColumn("hour",
            date_format(timestamp_micros(col("ts")), "yyyy-MM-dd HH"))
          .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
        runToMemory(s, df, "graft_hourly_stream_sink", OutputMode.Complete())
      }
      drained.groupBy("hour")
        .pivot("event_type", eventTypes)
        .agg(sum("n"))
        .na.fill(0L, eventTypes)
        .orderBy("hour")
    },
    eHourly.oracle)

  /** The SAME sessionization computed by the STREAMING engine:
    * readStream → mapGroupsWithState (streaming.EventStreams.sessionize,
    * one small state record per user) → update-mode memory sink. The sink
    * holds cumulative per-user totals after each micro-batch; both
    * counters are nondecreasing, so max() per user is the final state —
    * robust even if the source ever splits into multiple batches. Gated
    * by the identical oracle SQL as q_e_sessionize, so the stateful
    * streaming path itself is driver-hash-checked.
    */
  val eSessionizeStream = QueryDef(
    "q_e_sessionize_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .sessionize(s, streamableEventsDir(dir))
          .toDF()
        runToMemory(s, df, "graft_sessionize_stream_sink", OutputMode.Update())
      }
      drained.groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"),
          max("n_events").as("n_events"))
        .orderBy("user_id")
    },
    eSessions.oracle)

  /** Spark's NATIVE session_window operator (batch form): per-user gap
    * sessions as first-class windows — sessions merge while consecutive
    * events are under `gap` apart (new session at diff >= gap, the
    * window-overlap rule, unlike eSessions' strictly-greater break), and
    * the window end is last-event + gap. The oracle rebuilds the merge
    * with a lag/cumulative-sum pass. Timestamps compared as exact epoch
    * microseconds (both engines truncate the nanos identically).
    */
  val eSessionWindow = QueryDef(
    "q_e_session_window",
    (s, dir) => {
      val gap = "30 minutes"
      t(s, dir, "events")
        .withColumn("tsm", timestamp_micros(col("ts")))
        .groupBy(session_window(col("tsm"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    },
    Some("""
      WITH g AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)
                      >= 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events),
      sid AS (
        -- the running sum MUST use the same total order as the lag above,
        -- or a brk=1 row tied on us with a brk=0 row could swap and split
        -- sessions differently
        SELECT user_id, us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
      SELECT user_id, min(us) AS start_us,
             max(us) + 1800000000 AS end_us,
             count(*) AS n_events
      FROM sid GROUP BY user_id, session_id
      ORDER BY user_id, start_us""")
  )

  /** Funnel conversion: per user, the first timestamp of each stage;
    * a user converts a stage only if it happens strictly after the
    * previous one. Exact integer/timestamp comparisons — one aggregate
    * shuffle on user_id, one 1-row reduce.
    */
  val eFunnel = QueryDef(
    "q_e_funnel",
    (s, dir) => {
      val firsts = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      firsts.agg(
        count(col("t_view")).as("n_view"),
        count(when(col("t_click") > col("t_view"), lit(1))).as("n_view_click"),
        count(when(col("t_click") > col("t_view") &&
          col("t_buy") > col("t_click"), lit(1))).as("n_full_funnel"))
    },
    Some("""
      WITH firsts AS (
        SELECT user_id,
               min(ts) FILTER (event_type = 'view') AS t_view,
               min(ts) FILTER (event_type = 'click') AS t_click,
               min(ts) FILTER (event_type = 'purchase') AS t_buy
        FROM events GROUP BY 1)
      SELECT count(t_view) AS n_view,
             count(*) FILTER (t_click > t_view) AS n_view_click,
             count(*) FILTER (t_click > t_view AND t_buy > t_click) AS n_full_funnel
      FROM firsts""")
  )

  /** Batch twin of streaming.EventStreams.dedupStream's semantics: keep
    * the first event (by ts, then event_id) per (user_id, event_type)
    * key. One window shuffle on the dedup key.
    */
  val eDedup = QueryDef(
    "q_e_dedup",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
    Some("""
      WITH r AS (
        SELECT event_id, user_id, event_type,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS rn
        FROM events)
      SELECT event_id, user_id, event_type FROM r
      WHERE rn = 1 ORDER BY event_id""")
  )

  /** Streaming ingest-dedup through the ENGINE path (readStream →
    * watermarked dropDuplicates → append-mode memory sink): distinct
    * (user, type, event-time) triples. Projecting to exactly the dedup
    * key before the sink makes the surviving set deterministic (which
    * physical row wins is irrelevant once only the key is kept), so the
    * same DISTINCT oracle gates the stateful streaming operator itself.
    */
  val eDedupStream = QueryDef(
    "q_e_dedup_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .dedupStream(s, streamableEventsDir(dir),
            Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("tsm")).as("ts_us"))
        runToMemory(s, df, "graft_dedup_stream_sink")
      }
      drained.orderBy("user_id", "event_type", "ts_us")
    },
    Some("""
      SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us
      FROM events ORDER BY user_id, event_type, ts_us""")
  )

  /** Stream-stream interval join through the ENGINE path
    * (EventStreams.purchaseClickJoin: both-side watermarks + two-sided
    * event-time bound, the two requirements that keep join state
    * evictable): each purchase joins the same user's clicks from the
    * preceding 30 minutes. Inner-join results emit as they match, so the
    * drained memory sink holds the complete join — gated against the
    * equivalent batch interval join in SQL (multiset semantics: join
    * multiplicities match row for row). PipelineOpsSpec asserts the same
    * equality against Spark's own batch join; this entry makes the
    * streaming operator itself driver-visible.
    */
  val eIntervalStream = QueryDef(
    "q_e_interval_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .purchaseClickJoin(s, streamableEventsDir(dir), lagMinutes = 30)
          .select(col("user_id"),
            unix_micros(col("purchase_ts")).as("purchase_us"),
            col("purchase_value"),
            unix_micros(col("click_ts")).as("click_us"), col("click_value"))
        runToMemory(s, df, "graft_interval_stream_sink")
      }
      drained.orderBy("user_id", "purchase_us", "click_us",
        "purchase_value", "click_value")
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS purchase_us,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, epoch_us(ts) AS click_us, value AS click_value
        FROM events WHERE event_type = 'click')
      SELECT p.user_id, p.purchase_us, p.purchase_value,
             c.click_us, c.click_value
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.click_us >= p.purchase_us - 30 * 60 * 1000000
        AND c.click_us <= p.purchase_us
      ORDER BY p.user_id, purchase_us, click_us, purchase_value,
        click_value""")
  )

  /** Cohort retention matrix: users grouped by first-seen week, activity
    * counted per (cohort, week offset) — the product-analytics table
    * behind every retention curve. Weeks are epoch-µs BIGINTs (the ts_us
    * convention) and every step is integer/date arithmetic plus one
    * exact-int division at the end → bit-exact. Two shuffles (per-user
    * min, per-cohort-offset distinct count); the cohort-size join is a
    * broadcast of ≤|weeks| rows.
    */
  val eRetention = QueryDef(
    "q_e_retention",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        unix_micros(date_trunc("week",
          timestamp_micros(col("ts")))).as("wk_us"))
      val firstWk = e.groupBy("user_id").agg(min(col("wk_us")).as("cohort_us"))
      val act = e.distinct()
      val ret = act.join(firstWk, "user_id")
        .withColumn("week_offset",
          expr("(wk_us - cohort_us) div 604800000000"))
        .groupBy("cohort_us", "week_offset")
        .agg(countDistinct(col("user_id")).as("active_users"))
      val sizes = firstWk.groupBy("cohort_us")
        .agg(count(lit(1)).as("cohort_size"))
      ret.join(broadcast(sizes), "cohort_us")
        .select(col("cohort_us"), col("week_offset"), col("active_users"),
          col("cohort_size"),
          (col("active_users").cast("double") / col("cohort_size"))
            .as("retention_rate"))
        .orderBy("cohort_us", "week_offset")
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(date_trunc('week', ts)) AS wk_us
        FROM events),
      f AS (SELECT user_id, min(wk_us) AS cohort_us FROM e GROUP BY 1),
      a AS (SELECT DISTINCT user_id, wk_us FROM e),
      r AS (
        SELECT f.cohort_us,
               (a.wk_us - f.cohort_us) // 604800000000 AS week_offset,
               count(DISTINCT a.user_id) AS active_users
        FROM a JOIN f USING (user_id) GROUP BY 1, 2),
      sz AS (SELECT cohort_us, count(*) AS cohort_size FROM f GROUP BY 1)
      SELECT r.cohort_us, r.week_offset, r.active_users, sz.cohort_size,
             CAST(r.active_users AS DOUBLE) / sz.cohort_size
               AS retention_rate
      FROM r JOIN sz USING (cohort_us)
      ORDER BY r.cohort_us, r.week_offset""")
  )

  /** Stream-STATIC enrichment join through the streaming engine: the
    * events stream joined to the static customer dimension (broadcast —
    * the canonical "enrich a firehose with a dim table" shape; the dim
    * never enters streaming state) and aggregated per market segment in
    * complete mode. Value sums go through DECIMAL(28,6) so the
    * incremental streaming accumulation is order-independent and exact —
    * the memory-sink table hashes identically to the batch oracle, gating
    * the stream-static join path itself.
    */
  val eEnrichStream = QueryDef(
    "q_e_enrich_stream",
    (s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val drained = withStatePartitions(s, 8) {
        val df = s.readStream.schema(graft.model.Schemas.events)
          .parquet(streamableEventsDir(dir))
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,6)")).as("dv"))
        runToMemory(s, df, "graft_enrich_stream_sink", OutputMode.Complete())
      }
      drained
        .select(col("c_mktsegment"), col("n_events"),
          col("dv").cast("double").as("total_value"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1 ORDER BY 1""")
  )

  // q_e_holt_stream parameters — exact binary fractions (the q_f_holt
  // contract), interpolated into both the stream and the oracle
  private val HoltStreamAlpha = 0.125
  private val HoltStreamBeta = 0.25
  private val HoltStreamMod = 97L

  /** The Holt level+trend recurrence run as STREAMING STATE
    * (streaming.EventStreams.holtStream: mapGroupsWithState, one (l,b,n)
    * record per event type) over the user_id % 97 slice — the online
    * serving path of q_f_holt's batch scan. Update mode emits the running
    * state per batch; n is strictly increasing, so max(struct(n,…)) per
    * type is the final state even if the source ever splits into multiple
    * batches. The oracle folds the identical recurrence sequentially in a
    * recursive CTE (fresh seed, no segmentation — the per-type series is
    * thinned to replayable size), so every double matches BIT-FOR-BIT.
    */
  val eHoltStream = QueryDef(
    "q_e_holt_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .holtStream(s, streamableEventsDir(dir), HoltStreamAlpha,
            HoltStreamBeta, HoltStreamMod)
          .toDF()
        runToMemory(s, df, "graft_holt_stream_sink", OutputMode.Update())
      }
      drained.groupBy("event_type")
        .agg(max(struct(col("n"), col("level"), col("trend"))).as("f"))
        .select(col("event_type"), col("f.n").as("n"),
          col("f.level").as("level"), col("f.trend").as("trend"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH RECURSIVE
      src AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY ts, event_id) AS rn
        FROM events
        WHERE user_id % $HoltStreamMod = 0 AND value IS NOT NULL),
      rec AS (
        -- CAST the b seed: a bare 0.0 literal types the recursion column
        -- DECIMAL(2,1) and silently rounds every iteration's trend
        SELECT event_type, rn, CAST(value AS DOUBLE) AS l,
               CAST(0.0 AS DOUBLE) AS b
        FROM src WHERE rn = 1
        UNION ALL
        SELECT n.event_type, n.rn,
               ${sqlD(1.0 - HoltStreamAlpha)} * (r.l + r.b)
                 + ${sqlD(HoltStreamAlpha)} * n.value,
               ${sqlD(HoltStreamBeta)} * ((${sqlD(1.0 - HoltStreamAlpha)} * (r.l + r.b)
                 + ${sqlD(HoltStreamAlpha)} * n.value) - r.l)
                 + ${sqlD(1.0 - HoltStreamBeta)} * r.b
        FROM rec r JOIN src n
          ON n.event_type = r.event_type AND n.rn = r.rn + 1),
      fin AS (SELECT event_type, max(rn) AS n FROM rec GROUP BY 1)
      SELECT r.event_type, f.n, r.l AS level, r.b AS trend
      FROM rec r JOIN fin f
        ON f.event_type = r.event_type AND f.n = r.rn
      ORDER BY r.event_type""")
  )

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral model behind next-action prediction and funnel
    * hazard analysis: P(next = b | current = a) from exact transition
    * counts. One lag window per user (shuffle keyed by user_id — high
    * cardinality, parallelizes), exact integer counts, transition
    * probability = one int/int division (bit-exact); the µs+event_id
    * total order is the q_e_holt_stream portable-order contract.
    */
  val eMarkov = QueryDef(
    "q_e_markov",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("b", lead(col("a"), 1).over(w))
        .where(col("b").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      val fromTot = tr.groupBy("a").agg(sum("n_ab").as("n_a"))
      tr.join(broadcast(fromTot), "a")
        .select(col("a"), col("b"), col("n_ab"),
          (col("n_ab").cast("double") / col("n_a").cast("double")).as("p"))
        .orderBy("a", "b")
    },
    Some("""
      WITH seq AS (
        SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS b
        FROM events),
      tr AS (
        SELECT a, b, count(*) AS n_ab FROM seq
        WHERE b IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM tr GROUP BY 1)
      SELECT tr.a, tr.b, tr.n_ab,
             CAST(tr.n_ab AS DOUBLE) / CAST(tot.n_a AS DOUBLE) AS p
      FROM tr JOIN tot ON tot.a = tr.a
      ORDER BY tr.a, tr.b""")
  )

  /** First-touch / last-touch conversion attribution — the marketing-
    * analytics capability behind channel ROI reporting: for each user's
    * FIRST purchase, credit the first and the last touch event
    * (view/click/signup) strictly before it, '(direct)' when none exists.
    * Every shuffle is keyed by user_id (high cardinality); first/last
    * touches are min/max over a lexicographic struct under the portable
    * (µs, event_id) total order — ONE partial-aggregatable pass, no
    * row_number window (the q_f_ohlc first/last idiom; the trailing
    * event_type field never participates in a comparison). Counts and the
    * share division are exact → bit-exact, no rounding.
    */
  val eAttribution = QueryDef(
    "q_e_attribution",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").as("us"),
          col("event_id"), col("event_type"))
      val pur = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"))).as("p"))
        .select(col("user_id"), col("p.us").as("pus"),
          col("p.event_id").as("pid"))
      val touches = ev
        .filter(col("event_type").isin("view", "click", "signup"))
        .join(pur, "user_id")
        .where(col("us") < col("pus") ||
          (col("us") === col("pus") && col("event_id") < col("pid")))
      val ft = touches.groupBy("user_id").agg(
        min(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_touch"),
        max(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("last_touch"))
      val conv = pur.join(ft, Seq("user_id"), "left")
        .select(coalesce(col("first_touch"), lit("(direct)"))
          .as("first_touch"),
          coalesce(col("last_touch"), lit("(direct)")).as("last_touch"))
      val tot = conv.agg(count(lit(1)).as("n_conv"))
      conv.groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n_conversions"))
        .crossJoin(broadcast(tot))
        .select(col("first_touch"), col("last_touch"), col("n_conversions"),
          (col("n_conversions").cast("double") /
            col("n_conv").cast("double")).as("share"))
        .orderBy("first_touch", "last_touch")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        FROM events),
      pur AS (
        SELECT user_id, us, event_id FROM (
          SELECT user_id, us, event_id,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS rn
          FROM ev WHERE event_type = 'purchase')
        WHERE rn = 1),
      tch AS (
        SELECT e.user_id, e.us, e.event_id, e.event_type
        FROM ev e JOIN pur p ON p.user_id = e.user_id
        WHERE e.event_type IN ('view', 'click', 'signup')
          AND (e.us < p.us OR (e.us = p.us AND e.event_id < p.event_id))),
      ft AS (
        SELECT user_id,
               max(CASE WHEN rna = 1 THEN event_type END) AS first_touch,
               max(CASE WHEN rnd = 1 THEN event_type END) AS last_touch
        FROM (
          SELECT *,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS rna,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY us DESC, event_id DESC) AS rnd
          FROM tch)
        GROUP BY 1),
      conv AS (
        SELECT coalesce(f.first_touch, '(direct)') AS first_touch,
               coalesce(f.last_touch, '(direct)') AS last_touch
        FROM pur p LEFT JOIN ft f USING (user_id)),
      tot AS (SELECT count(*) AS n_conv FROM conv)
      SELECT first_touch, last_touch,
             CAST(count(*) AS BIGINT) AS n_conversions,
             CAST(count(*) AS DOUBLE) / CAST(tot.n_conv AS DOUBLE) AS share
      FROM conv CROSS JOIN tot
      GROUP BY first_touch, last_touch, tot.n_conv
      ORDER BY first_touch, last_touch""")
  )

  /** Kaplan–Meier survival estimate of time-to-first-purchase (in whole
    * days since the user's first event), users who never purchase
    * right-censored at their last event — the survival-analysis capability
    * behind conversion-lag and churn curves, with REAL censoring (the
    * naive "ECDF of converters" is biased; KM is the standard fix).
    * Per-user durations are ONE user_id-keyed aggregate (exact integer µs
    * arithmetic); the KM table itself lives on the duration HISTOGRAM —
    * bounded by distinct whole days regardless of input SF (the calendar-
    * spine argument), so its windows are windows over a tiny aggregate.
    * d/n is an exact int/int division; the survival product is
    * exp(Σ ln(1−d/n)) with the ln terms decimal(38,18)-accumulated in the
    * cumulative window (the q_a21 ln-portability contract) → r6.
    */
  val eSurvival = QueryDef(
    "q_e_survival",
    (s, dir) => {
      val DayUs = 86400000000L
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").as("us"),
          col("event_type"))
      val durs = ev.groupBy("user_id").agg(
        min(col("us")).as("f"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"),
        max(col("us")).as("l"))
        .select(
          (coalesce(col("p"), col("l")) - col("f")).as("diff_us"),
          when(col("p").isNotNull, 1L).otherwise(0L).as("evt"))
        .select(expr(s"diff_us div $DayUs").as("dur_day"), col("evt"))
      val km = durs.groupBy("dur_day").agg(
        sum(col("evt")).as("d_events"),
        sum(lit(1L) - col("evt")).as("n_censored"),
        count(lit(1)).as("m"))
      val wAsc = Window.orderBy("dur_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSuf = Window.orderBy("dur_day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      // d = n (everyone at risk converts) sends survival to EXACTLY 0 and
      // ln(1−d/n) to −∞: flag it with an exact integer predicate and pin
      // S = 0 from that row on, keeping ln strictly in-domain (DuckDB's
      // ln(0) is an error, Spark's a null — neither is the KM value)
      km.withColumn("n_at_risk", sum(col("m")).over(wSuf))
        .withColumn("dead",
          max(when(col("d_events") === col("n_at_risk"), 1L).otherwise(0L))
            .over(wAsc))
        .withColumn("lnterm",
          when(col("d_events") === col("n_at_risk"),
            lit(0.0)).otherwise(
            log(lit(1.0) - col("d_events").cast("double") /
              col("n_at_risk").cast("double"))).cast("decimal(38,18)"))
        .withColumn("survival",
          when(col("dead") === 1L, lit(0.0)).otherwise(
            r6(exp(sum(col("lnterm")).over(wAsc).cast("double")))))
        .select(col("dur_day"), col("n_at_risk"), col("d_events"),
          col("n_censored"), col("survival"))
        .orderBy("dur_day")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      durs AS (
        SELECT CAST((coalesce(min(CASE WHEN event_type = 'purchase'
                                  THEN us END), max(us)) - min(us))
                    // 86400000000 AS BIGINT) AS dur_day,
               CASE WHEN min(CASE WHEN event_type = 'purchase' THEN us END)
                    IS NOT NULL THEN 1 ELSE 0 END AS evt
        FROM ev GROUP BY user_id),
      km AS (
        SELECT dur_day, CAST(sum(evt) AS BIGINT) AS d_events,
               CAST(sum(1 - evt) AS BIGINT) AS n_censored,
               count(*) AS m
        FROM durs GROUP BY 1),
      r AS (
        SELECT *,
               CAST(sum(m) OVER (ORDER BY dur_day ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
        FROM km),
      t2 AS (
        SELECT *,
               max(CASE WHEN d_events = n_at_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS dead,
               CAST(CASE WHEN d_events = n_at_risk THEN 0.0
                 ELSE ln(1.0 - CAST(d_events AS DOUBLE)
                   / CAST(n_at_risk AS DOUBLE)) END AS DECIMAL(38,18))
                 AS lnterm
        FROM r)
      SELECT dur_day, n_at_risk, d_events, n_censored,
             CASE WHEN dead = 1 THEN 0.0
               ELSE floor(exp(CAST(sum(lnterm) OVER (ORDER BY dur_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE)) * 1e6 + 0.5) / 1e6 END AS survival
      FROM t2 ORDER BY dur_day""")
  )

  /** INCREMENTAL SCD2 dimension maintenance from a streaming change feed —
    * the foreachBatch MERGE pattern every streaming warehouse runs: three
    * CDC batches (change timestamps 100/200/300, overlapping key sets so
    * multi-version chains occur) arrive as ordered micro-batches
    * (maxFilesPerTrigger=1 over staged files with ascending mtimes), and
    * each one folds into the dimension via etl.Scd2.applyChanges. The
    * handler applies per distinct change_ts in ascending order, so the
    * final table is correct even if the source coalesces micro-batches.
    * Gated against the CLOSED-FORM oracle: each key's version history is
    * its change list with valid_to = lead(valid_from), the original row
    * closed at the key's first change — so the stream must converge to
    * exactly the batch-sequential SCD2 state (all values selected/exact →
    * bit-exact).
    */
  val eScdStream = QueryDef(
    "q_e_scd_stream",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val dim0 = cust
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      def batch(mod: Int, tsv: Long, bump: Double) =
        cust.filter(col("c_custkey") % mod === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + bump).as("c_acctbal"),
            lit(tsv).as("change_ts"))
      val batches =
        Seq(batch(7, 100L, 100.0), batch(5, 200L, 200.0),
          batch(3, 300L, 300.0))
      Dirs.scratch("graft_scd_feed") { stage =>
        val feed = stage.resolve("feed")
        // one partitioned write stages all three batch files
        // (QueryDef.stageSlices); landing them in order pins the
        // FileStreamSource replay order
        QueryDef.stageSlices(
          batches.zipWithIndex
            .map { case (b, i) => b.withColumn("slice", lit(i)) }
            .reduce(_ unionByName _),
          "slice", 3, stage)
        (0 until 3).foreach(landSlice(stage, feed, _))
        var state = dim0.localCheckpoint()
        // the per-batch SCD2 merge joins run inside foreachBatch — scope
        // the state/shuffle width down like the other streaming entries
        withStatePartitions(s, 8) {
          val q = s.readStream.schema(batches.head.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed.toString)
            .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
              val tss = b.select("change_ts").distinct()
                .collect().map(_.getLong(0)).sorted
              tss.foreach { tsv =>
                val ch = b.filter(col("change_ts") === tsv).drop("change_ts")
                state = graft.etl.Scd2
                  .applyChanges(state, ch, Seq("c_custkey"), ts = tsv)
                  .localCheckpoint() // eager: feed files are deleted below
              }
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        state.orderBy(col("c_custkey"), col("valid_from"))
      }
    },
    Some("""
      WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
      ch AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
               CAST(100 AS BIGINT) AS vf
        FROM base WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal + 200.0, CAST(200 AS BIGINT)
        FROM base WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal + 300.0, CAST(300 AS BIGINT)
        FROM base WHERE c_custkey % 3 = 0),
      chv AS (
        SELECT c_custkey, c_acctbal, vf AS valid_from,
               lead(vf) OVER (PARTITION BY c_custkey ORDER BY vf)
                 AS valid_to
        FROM ch),
      firstch AS (
        SELECT c_custkey, min(vf) AS mv FROM ch GROUP BY 1),
      orig AS (
        SELECT b.c_custkey, b.c_acctbal, CAST(0 AS BIGINT) AS valid_from,
               f.mv AS valid_to
        FROM base b LEFT JOIN firstch f USING (c_custkey))
      SELECT * FROM (
        SELECT * FROM orig UNION ALL SELECT * FROM chv)
      ORDER BY c_custkey, valid_from""")
  )

  /** Two-proportion z-test between deterministic user cohorts (user_id
    * parity — the hash-split an experimentation platform assigns) on
    * purchase conversion — the A/B-test readout. One user_id-keyed
    * aggregate to per-user conversion flags, one tiny pivot to a single
    * row; counts and the conversion rates are exact, z is a fixed float
    * expression over them → r6.
    */
  val eAbTest = QueryDef(
    "q_e_abtest",
    (s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .select((col("user_id") % 2).as("cohort"), col("conv"))
      val g = u.agg(
        count(when(col("cohort") === 0, 1)).as("n_a"),
        sum(when(col("cohort") === 0, col("conv")).otherwise(0L))
          .as("c_a"),
        count(when(col("cohort") === 1, 1)).as("n_b"),
        sum(when(col("cohort") === 1, col("conv")).otherwise(0L))
          .as("c_b"))
      val pa = col("c_a").cast("double") / col("n_a").cast("double")
      val pb = col("c_b").cast("double") / col("n_b").cast("double")
      val pp = (col("c_a") + col("c_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      g.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        pa.as("rate_a"), pb.as("rate_b"),
        r6((pa - pb) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double")))).as("z_stat"))
    },
    Some(s"""
      WITH u AS (
        SELECT user_id % 2 AS cohort,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
        FROM events GROUP BY user_id),
      g AS (
        SELECT CAST(count(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT)
                 AS n_a,
               CAST(sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END)
                 AS BIGINT) AS c_a,
               CAST(count(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT)
                 AS n_b,
               CAST(sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END)
                 AS BIGINT) AS c_b
        FROM u),
      e AS (
        SELECT *,
               CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
               CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
               CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        FROM g)
      SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
             ${sqlR6("""(rate_a - rate_b)
               / sqrt(pp * (1.0 - pp)
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))""")}
               AS z_stat
      FROM e""")
  )

  /** CUPED variance reduction (Deng et al., WSDM 2013) on the parity-cohort
    * experiment: per-user PRE-period spend (first 15 days) as the
    * covariate, POST-period spend as the metric, θ = cov(x,y)/var(x)
    * pooled. No per-row adjustment pass exists anywhere — the adjusted
    * cohort means compose in closed form from per-cohort moments and the
    * pooled θ (mean_adj = (Σy − θ·(Σx − n·x̄))/n), so the whole query is
    * one user-keyed aggregate + one 2-row pivot. All moments are exact
    * decimal sums of identical doubles; θ, the adjusted means, and the
    * variance-reduction ratio ρ² are fixed float expressions → r6.
    */
  val eCuped = QueryDef(
    "q_e_cuped",
    (s, dir) => {
      def s18(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      val DayUs = 86400000000L
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").as("us"), col("value"))
      val lo = ev.agg(min(col("us")).as("t0"))
      val u = ev.crossJoin(broadcast(lo))
        .withColumn("pre", col("us") < col("t0") + lit(15L * DayUs))
        .groupBy("user_id")
        .agg(
          sumE(when(col("pre"), col("value")).otherwise(0.0)).as("x"),
          sumE(when(!col("pre"), col("value")).otherwise(0.0)).as("y"))
        .select((col("user_id") % 2).as("cohort"), col("x"), col("y"))
      val g = u.agg(
        count(lit(1)).as("n"), s18(col("x")).as("sx"),
        s18(col("y")).as("sy"), s18(col("x") * col("x")).as("sxx"),
        s18(col("y") * col("y")).as("syy"),
        s18(col("x") * col("y")).as("sxy"),
        count(when(col("cohort") === 0, 1)).as("n_a"),
        s18(when(col("cohort") === 0, col("x")).otherwise(0.0)).as("sx_a"),
        s18(when(col("cohort") === 0, col("y")).otherwise(0.0)).as("sy_a"),
        count(when(col("cohort") === 1, 1)).as("n_b"),
        s18(when(col("cohort") === 1, col("x")).otherwise(0.0)).as("sx_b"),
        s18(when(col("cohort") === 1, col("y")).otherwise(0.0)).as("sy_b"))
      val n = col("n").cast("double")
      val covxy = col("sxy") - col("sx") * col("sy") / n
      val varx = col("sxx") - col("sx") * col("sx") / n
      val vary = col("syy") - col("sy") * col("sy") / n
      val theta = covxy / varx
      val xbar = col("sx") / n
      def meanAdj(nc: String, sxc: String, syc: String) =
        (col(syc) - theta * (col(sxc) - col(nc).cast("double") * xbar)) /
          col(nc).cast("double")
      g.select(
        col("n_a"), col("n_b"),
        r6(col("sy_a") / col("n_a").cast("double")).as("mean_a"),
        r6(col("sy_b") / col("n_b").cast("double")).as("mean_b"),
        r6(meanAdj("n_a", "sx_a", "sy_a")).as("mean_a_adj"),
        r6(meanAdj("n_b", "sx_b", "sy_b")).as("mean_b_adj"),
        r6(covxy * covxy / (varx * vary)).as("rho2"))
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, value FROM events),
      lo AS (SELECT min(us) AS t0 FROM ev),
      u AS (
        SELECT user_id % 2 AS cohort,
               CAST(sum(CAST(CASE WHEN us < t0 + ${15L * 86400000000L}
                 THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS x,
               CAST(sum(CAST(CASE WHEN us >= t0 + ${15L * 86400000000L}
                 THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM ev CROSS JOIN lo GROUP BY user_id),
      g AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
               CAST(count(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT)
                 AS n_a,
               CAST(sum(CAST(CASE WHEN cohort = 0 THEN x ELSE 0.0 END
                 AS DECIMAL(38,18))) AS DOUBLE) AS sx_a,
               CAST(sum(CAST(CASE WHEN cohort = 0 THEN y ELSE 0.0 END
                 AS DECIMAL(38,18))) AS DOUBLE) AS sy_a,
               CAST(count(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT)
                 AS n_b,
               CAST(sum(CAST(CASE WHEN cohort = 1 THEN x ELSE 0.0 END
                 AS DECIMAL(38,18))) AS DOUBLE) AS sx_b,
               CAST(sum(CAST(CASE WHEN cohort = 1 THEN y ELSE 0.0 END
                 AS DECIMAL(38,18))) AS DOUBLE) AS sy_b
        FROM u),
      d AS (
        SELECT *,
               sxy - sx * sy / CAST(n AS DOUBLE) AS covxy,
               sxx - sx * sx / CAST(n AS DOUBLE) AS varx,
               syy - sy * sy / CAST(n AS DOUBLE) AS vary,
               sx / CAST(n AS DOUBLE) AS xbar
        FROM g)
      SELECT n_a, n_b,
             ${sqlR6("sy_a / CAST(n_a AS DOUBLE)")} AS mean_a,
             ${sqlR6("sy_b / CAST(n_b AS DOUBLE)")} AS mean_b,
             ${sqlR6("""(sy_a - (covxy / varx)
               * (sx_a - CAST(n_a AS DOUBLE) * xbar)) / CAST(n_a AS DOUBLE)""")}
               AS mean_a_adj,
             ${sqlR6("""(sy_b - (covxy / varx)
               * (sx_b - CAST(n_b AS DOUBLE) * xbar)) / CAST(n_b AS DOUBLE)""")}
               AS mean_b_adj,
             ${sqlR6("covxy * covxy / (varx * vary)")} AS rho2
      FROM d""")
  )

  /** The SAME funnel computed by the STREAMING engine
    * (streaming.EventStreams.funnelStream): per-user first-touch minima as
    * mapGroupsWithState state, update-mode sink, min-collapsed per user
    * (each component is nonincreasing — the q_e_sessionize_stream
    * max-collapse argument, mirrored), then the identical ordered-funnel
    * counts. Gated by the same oracle as q_e_funnel, so the stateful
    * streaming path is driver-hash-checked end-to-end.
    */
  val eFunnelStream = QueryDef(
    "q_e_funnel_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .funnelStream(s, streamableEventsDir(dir))
          .toDF()
        runToMemory(s, df, "graft_funnel_stream_sink", OutputMode.Update())
      }
      val firsts = drained.groupBy("user_id")
        .agg(min("t_view").as("t_view"), min("t_click").as("t_click"),
          min("t_buy").as("t_buy"))
      firsts.agg(
        count(col("t_view")).as("n_view"),
        count(when(col("t_click") > col("t_view"), lit(1))).as("n_view_click"),
        count(when(col("t_click") > col("t_view") &&
          col("t_buy") > col("t_click"), lit(1))).as("n_full_funnel"))
    },
    eFunnel.oracle)

  // q_e_cusum_stream constants, shared by both engines
  private val CusumBurnIn = 7 // calibration days fixing the reference mean
  private val CusumH = 40L    // drift budget in value units

  /** Streaming CUSUM drift monitor (streaming.EventStreams.cusumStream):
    * the streaming twin of the batch q_m16_cusum changepoint operator —
    * per event type, readStream → flatMapGroupsWithState keeps one
    * (day → exact integer moment) map, calibrates μ₀ on the first
    * `CusumBurnIn` days, and emits the Page-recurrence S⁺/S⁻ drift lines
    * + alarms for every later day. The oracle replays the identical
    * integer pipeline in DuckDB via the m16 prefix-sum identity
    * (S⁺ = P − min(0, min P)) over the SQL daily aggregate, so the
    * stateful streaming path is hash-gated end-to-end. Re-emitted series
    * are deduped by the monotone n_seen tag (multi-batch-safe).
    */
  val eCusumStream = QueryDef(
    "q_e_cusum_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .cusumStream(s, streamableEventsDir(dir), CusumBurnIn, CusumH)
          .toDF()
        runToMemory(s, df, "graft_cusum_stream_sink")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "day_id").orderBy(col("n_seen").desc)
      drained
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("event_type"), col("day_id"),
          r6(col("s_pos")).as("s_pos"), r6(col("s_neg")).as("s_neg"),
          col("alarm"))
        .orderBy("event_type", "day_id")
    },
    Some(s"""
      WITH f AS (
        SELECT event_type AS g,
               CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                 AS BIGINT) AS day_id,
               value
        FROM events WHERE value IS NOT NULL),
      d AS (
        SELECT g, day_id,
               CAST(floor(${sqlAvgE("value")} * 1e6 + 0.5) AS BIGINT) AS xu
        FROM f GROUP BY 1, 2),
      rnk AS (
        SELECT *, row_number() OVER (PARTITION BY g ORDER BY day_id) AS rn
        FROM d),
      ref AS (
        SELECT g, CAST(sum(xu) AS BIGINT) AS refsum
        FROM rnk WHERE rn <= $CusumBurnIn GROUP BY 1),
      post AS (
        SELECT r.g, r.day_id, r.xu * $CusumBurnIn - ref.refsum AS dev
        FROM rnk r JOIN ref ON ref.g = r.g
        WHERE r.rn > $CusumBurnIn),
      p AS (
        SELECT g, day_id,
               CAST(sum(dev) OVER (PARTITION BY g ORDER BY day_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS p
        FROM post),
      sline AS (
        SELECT g, day_id,
               CAST(p - least(CAST(0 AS BIGINT), min(p) OVER (
                 PARTITION BY g ORDER BY day_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS BIGINT) AS su_pos,
               CAST(greatest(CAST(0 AS BIGINT), max(p) OVER (
                 PARTITION BY g ORDER BY day_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - p
                 AS BIGINT) AS su_neg
        FROM p)
      SELECT g AS event_type, day_id,
             ${sqlR6(s"CAST(su_pos AS DOUBLE) / (CAST($CusumBurnIn AS DOUBLE) * 1000000.0)")}
               AS s_pos,
             ${sqlR6(s"CAST(su_neg AS DOUBLE) / (CAST($CusumBurnIn AS DOUBLE) * 1000000.0)")}
               AS s_neg,
             CAST(CASE WHEN su_pos > ${CusumH * 1000000L} * $CusumBurnIn
                    OR su_neg > ${CusumH * 1000000L} * $CusumBurnIn
               THEN 1 ELSE 0 END AS BIGINT) AS alarm
      FROM sline ORDER BY event_type, day_id""")
  )

  /** RFM customer segmentation (Hughes' classic recency / frequency /
    * monetary scoring) over purchase events: per-user exact integer
    * metrics (last-purchase epoch day, purchase count, cents sum), each
    * scored 1–5 against the metric's own quintile boundaries, segments
    * reported with counts and exact monetary totals. Plan: ONE user
    * aggregate (the only fact-table shuffle), a 1-row broadcast of the
    * 12 quintile boundaries (the q_percentile interpolation contract,
    * proven bit-exact cross-engine), a scan-local CASE scoring pass, and
    * a ≤125-row segment aggregate — no per-user global rank/sort, which
    * is what makes this shape survive a billion-user table.
    */
  val eRfm = QueryDef(
    "q_e_rfm",
    (s, dir) => {
      val u = t(s, dir, "events")
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id")
        .agg(max(expr("ts div 86400000000")).as("r_day"),
          count(lit(1)).as("f_cnt"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("m_cents"))
      def qs(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map {
        case (p, i) => expr(s"percentile($c, $p)").as(s"${c}_q${i + 1}")
      }
      val allQ = qs("r_day") ++ qs("f_cnt") ++ qs("m_cents")
      val bounds = u.agg(allQ.head, allQ.tail: _*)
      def score(c: String) =
        when(col(c) <= col(s"${c}_q1"), 1)
          .when(col(c) <= col(s"${c}_q2"), 2)
          .when(col(c) <= col(s"${c}_q3"), 3)
          .when(col(c) <= col(s"${c}_q4"), 4)
          .otherwise(5)
      u.crossJoin(broadcast(bounds))
        .select(col("user_id"), col("m_cents"),
          score("r_day").as("r_score"), score("f_cnt").as("f_score"),
          score("m_cents").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"), sum("m_cents").as("seg_cents"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some {
      def sc(c: String, q: String) =
        s"""CASE WHEN $c <= ${q}[1] THEN 1 WHEN $c <= ${q}[2] THEN 2
           WHEN $c <= ${q}[3] THEN 3 WHEN $c <= ${q}[4] THEN 4
           ELSE 5 END"""
      s"""
      WITH u AS (
        SELECT user_id,
               max(CAST(CAST(date_trunc('day', ts) AS DATE)
                 - DATE '1970-01-01' AS BIGINT)) AS r_day,
               count(*) AS f_cnt,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS m_cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1),
      b AS (
        SELECT quantile_cont(r_day, [0.2, 0.4, 0.6, 0.8]) AS rq,
               quantile_cont(f_cnt, [0.2, 0.4, 0.6, 0.8]) AS fq,
               quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
        FROM u),
      sseg AS (
        SELECT user_id, m_cents,
               ${sc("r_day", "rq")} AS r_score,
               ${sc("f_cnt", "fq")} AS f_score,
               ${sc("m_cents", "mq")} AS m_score
        FROM u CROSS JOIN b)
      SELECT r_score, f_score, m_score,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(m_cents) AS BIGINT) AS seg_cents
      FROM sseg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    }
  )

  /** The SAME native session_window aggregation computed by the STREAMING
    * engine: readStream → watermarked `session_window` groupBy → append
    * sink. Sessions only emit when the watermark proves they can no
    * longer merge, so the finite input rides the HEARTBEAT staging (the
    * outer-join mechanism): a far-future user −1 pair pushes the
    * watermark past every real session's (last + gap); heartbeat rows
    * are dropped post-sink. Gated by the identical gaps-and-islands
    * oracle as the batch q_e_session_window — the native streaming
    * session operator itself is driver-hash-checked.
    */
  val eSessionWindowStream = QueryDef(
    "q_e_session_window_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val sdir = streamableEventsDirWithHeartbeat(s, dir)
        val df = graft.sources.EventsTs.normalize(
            s.readStream.schema(graft.model.Schemas.events).parquet(sdir),
            sdir)
          .withColumn("tsm", timestamp_micros(col("ts")))
          .withWatermark("tsm", "1 hour")
          .groupBy(session_window(col("tsm"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        runToMemory(s, df, "graft_swin_stream_sink")
      }
      drained
        .where(col("user_id") >= 0) // drop the heartbeat pair
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    },
    eSessionWindow.oracle)

  // q_e_did period split: events span 2024-01; the policy day splits the
  // window mid-month (epoch day of 2024-01-16)
  private val DidSplitDay = 19738L

  /** Difference-in-differences readout (the Card–Krueger design) on
    * purchase value: cohorts by the q_e_abtest parity convention, periods
    * by the mid-window policy day, DiD = (treat_post − treat_pre) −
    * (ctrl_post − ctrl_pre) over the four cells' exact decimal means.
    * ONE map-side-combinable scan produces all four cells; the estimate
    * composes in fixed-order doubles → r6.
    */
  val eDid = QueryDef(
    "q_e_did",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .select((col("user_id") % 2).as("cohort"),
          (expr("ts div 86400000000") >= DidSplitDay).cast("int").as("post"),
          col("value"))
        .groupBy("cohort", "post")
        .agg(count(lit(1)).as("n"), avgE(col("value")).as("m"))
      def cell(c: Int, p: Int) =
        max(when(col("cohort") === c && col("post") === p, col("m")))
      def cnt(c: Int, p: Int) =
        max(when(col("cohort") === c && col("post") === p, col("n")))
      val f = cells.agg(
        cell(0, 0).as("m00"), cell(0, 1).as("m01"),
        cell(1, 0).as("m10"), cell(1, 1).as("m11"),
        (cnt(0, 0) + cnt(0, 1) + cnt(1, 0) + cnt(1, 1)).as("n_total"))
      f.select(col("n_total"),
        r6(col("m00")).as("ctrl_pre"), r6(col("m01")).as("ctrl_post"),
        r6(col("m10")).as("treat_pre"), r6(col("m11")).as("treat_post"),
        r6((col("m11") - col("m10")) - (col("m01") - col("m00")))
          .as("did"))
    },
    Some(s"""
      WITH cells AS (
        SELECT user_id % 2 AS cohort,
               CASE WHEN CAST(CAST(date_trunc('day', ts) AS DATE)
                 - DATE '1970-01-01' AS BIGINT) >= $DidSplitDay
                 THEN 1 ELSE 0 END AS post,
               count(*) AS n, ${sqlAvgE("value")} AS m
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1, 2),
      f AS (
        SELECT
          max(CASE WHEN cohort = 0 AND post = 0 THEN m END) AS m00,
          max(CASE WHEN cohort = 0 AND post = 1 THEN m END) AS m01,
          max(CASE WHEN cohort = 1 AND post = 0 THEN m END) AS m10,
          max(CASE WHEN cohort = 1 AND post = 1 THEN m END) AS m11,
          CAST(max(CASE WHEN cohort = 0 AND post = 0 THEN n END)
            + max(CASE WHEN cohort = 0 AND post = 1 THEN n END)
            + max(CASE WHEN cohort = 1 AND post = 0 THEN n END)
            + max(CASE WHEN cohort = 1 AND post = 1 THEN n END)
            AS BIGINT) AS n_total
        FROM cells)
      SELECT n_total,
             ${sqlR6("m00")} AS ctrl_pre, ${sqlR6("m01")} AS ctrl_post,
             ${sqlR6("m10")} AS treat_pre, ${sqlR6("m11")} AS treat_post,
             ${sqlR6("(m11 - m10) - (m01 - m00)")} AS did
      FROM f""")
  )

  // q_e_hw_stream constants, shared by both engines
  private val HwsM = 7
  private val HwsAlpha = 0.3
  private val HwsBeta = 0.1
  private val HwsGamma = 0.2

  /** Streaming Holt–Winters (streaming.EventStreams.holtWintersStream):
    * the triple-exponential level/trend/weekly-seasonal recurrence
    * maintained online per event type over the stream's 6-decimal-
    * quantized daily mean values. The oracle replays the IDENTICAL
    * pipeline relationally: SQL daily means, the same quantization, and
    * the q_f_holtwinters recursive CTE carrying the 7 seasonal values as
    * positional queue columns — bit-exact, no rounding.
    */
  val eHwStream = QueryDef(
    "q_e_hw_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .holtWintersStream(s, streamableEventsDir(dir), HwsM, HwsAlpha,
            HwsBeta, HwsGamma)
          .toDF()
        runToMemory(s, df, "graft_hw_stream_sink")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "day_id").orderBy(col("n_seen").desc)
      drained
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("event_type"), col("day_id"), col("level"),
          col("trend"), col("season"), col("fitted"))
        .orderBy("event_type", "day_id")
    },
    Some {
      val A = sqlD(HwsAlpha)
      val IA = sqlD(1.0 - HwsAlpha)
      val B = sqlD(HwsBeta)
      val IB = sqlD(1.0 - HwsBeta)
      val G = sqlD(HwsGamma)
      val IG = sqlD(1.0 - HwsGamma)
      val E1 = s"$A * (c.y - p.s1) + $IA * (p.l + p.b)"
      val sCols = (1 to HwsM).map(i => s"s$i").mkString(", ")
      val sInit = (1 to HwsM)
        .map(i => s"max(CASE WHEN rn = $i THEN y END) - m1v AS s$i")
        .mkString(",\n               ")
      val sShift = (2 to HwsM).map(i => s"p.s$i").mkString(", ")
      s"""
      WITH RECURSIVE
      f AS (
        SELECT event_type AS g,
               CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                 AS BIGINT) AS day_id,
               value
        FROM events WHERE value IS NOT NULL),
      d AS (
        SELECT g, day_id,
               floor(${sqlAvgE("value")} * 1e6 + 0.5) / 1e6 AS y
        FROM f GROUP BY 1, 2),
      cl AS (
        SELECT g, day_id, y,
               row_number() OVER (PARTITION BY g ORDER BY day_id) AS rn
        FROM d),
      nn AS (SELECT g, count(*) AS cnt FROM cl GROUP BY 1),
      means AS (
        SELECT g,
               CAST(sum(CASE WHEN rn <= $HwsM
                   THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE)
                 / ${HwsM}.0 AS m1v,
               CAST(sum(CASE WHEN rn BETWEEN ${HwsM + 1} AND ${2 * HwsM}
                   THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE)
                 / ${HwsM}.0 AS m2v
        FROM cl WHERE rn <= ${2 * HwsM} GROUP BY 1),
      init AS (
        SELECT cl.g, m1v AS l, (m2v - m1v) / ${HwsM}.0 AS b,
               $sInit
        FROM cl
        JOIN means ON means.g = cl.g
        JOIN nn ON nn.g = cl.g
        WHERE cl.rn <= $HwsM AND nn.cnt >= ${2 * HwsM + 1}
        GROUP BY cl.g, m1v, m2v),
      rec AS (
        SELECT g, $HwsM AS rn, l, b, $sCols,
               CAST(NULL AS DOUBLE) AS season,
               CAST(NULL AS DOUBLE) AS fitted
        FROM init
        UNION ALL
        SELECT p.g, c.rn,
               $E1 AS l,
               $B * (($E1) - p.l) + $IB * p.b AS b,
               $sShift,
               $G * (c.y - ($E1)) + $IG * p.s1 AS s$HwsM,
               $G * (c.y - ($E1)) + $IG * p.s1 AS season,
               p.l + p.b + p.s1 AS fitted
        FROM rec p JOIN cl c ON c.g = p.g AND c.rn = p.rn + 1)
      SELECT rec.g AS event_type, cl.day_id, rec.l AS level,
             rec.b AS trend, rec.season, rec.fitted
      FROM rec
      JOIN cl ON cl.g = rec.g AND cl.rn = rec.rn
      WHERE rec.rn > $HwsM
      ORDER BY event_type, cl.day_id"""
    }
  )

  /** Watermark-lateness audit: the distribution of event-time lateness
    * under a simulated arrival order (events shuffled within their
    * minute by a deterministic hash — network-jitter shape; the raw
    * testdata arrives perfectly time-sorted, which would make the audit
    * degenerate). lateness = runningMax(event time over arrival order) −
    * event time: exactly what a Structured Streaming watermark compares
    * against, so the drop counts at candidate delays (0 / 10 s / 30 s)
    * are the data a watermark-tuning decision needs. The global prefix
    * max runs on plans.SequenceOps.runningMax (range-partitioned scan
    * stitch — parallelism stays #partitions; a plain Window.orderBy
    * would funnel 100 TB through ONE task). All-integer µs arithmetic.
    */
  val eLateness = QueryDef(
    "q_e_lateness",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"),
        col("ts").as("us"),
        expr("ts div 60000000").as("minute"),
        md5(col("event_id").cast("string")).as("h"))
      val rm = graft.plans.SequenceOps.runningMax(
        e, Nil, Seq("minute", "h", "event_id"), "us", "mx")
      rm.agg(
        count(lit(1)).as("n_events"),
        sum(when(col("mx") > col("us"), 1L).otherwise(0L)).as("n_late"),
        sum(when(col("mx") - col("us") > 10000000L, 1L).otherwise(0L))
          .as("n_late_10s"),
        sum(when(col("mx") - col("us") > 30000000L, 1L).otherwise(0L))
          .as("n_late_30s"),
        max(col("mx") - col("us")).as("max_late_us"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, epoch_us(ts) AS us,
               epoch_us(ts) // 60000000 AS minute,
               md5(CAST(event_id AS VARCHAR)) AS h
        FROM events),
      m AS (
        SELECT us,
               max(us) OVER (ORDER BY minute, h, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
        FROM e)
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN mx > us THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
             CAST(sum(CASE WHEN mx - us > 10000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_late_10s,
             CAST(sum(CASE WHEN mx - us > 30000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_late_30s,
             CAST(max(mx - us) AS BIGINT) AS max_late_us
      FROM m""")
  )

  /** Bot / automation detection by inter-arrival REGULARITY — the
    * abuse-filtering heuristic every event pipeline runs before
    * analytics (scripted clients tick on a timer; humans are bursty):
    * per-user gaps between consecutive events (epoch-µs integers under
    * the (ts, event_id) total order), coefficient of variation from
    * exact moments — Σd is an exact decimal, Σd² is decimal-summed with
    * a HUGEINT-safe pre-cast (d² overflows BIGINT at ~hour gaps) and
    * exits through decD, so mean/var/cv are identical IEEE chains. The
    * 20 most-regular users surface under the (r6(cv), user) total
    * order. One shuffle on user_id; gaps via a per-user window.
    */
  val eBotFlag = QueryDef(
    "q_e_bot_flag",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byTs = Window.partitionBy("user_id")
        .orderBy("us", "event_id")
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts").as("us"))
        .withColumn("d", col("us") - lag(col("us"), 1).over(byTs))
        .where(col("d").isNotNull)
      val mom = gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          decD(sum(col("d").cast("decimal(38,0)"))).as("sd"),
          decD(sum((col("d").cast("decimal(38,0)") * col("d"))))
            .as("sdd"))
        .where(col("n_gaps") >= 5)
      val nD = col("n_gaps").cast("double")
      val mean = col("sd") / nD
      val variance = (col("sdd") - col("sd") * col("sd") / nD) /
        (nD - lit(1.0))
      val cv = sqrt(variance) / mean
      mom.select(col("user_id"), col("n_gaps"),
          r2(mean / lit(1e6)).as("mean_gap_s"), r6(cv).as("cv"))
        .orderBy(col("cv"), col("user_id"))
        .limit(20)
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      g AS (
        SELECT user_id,
               us - lag(us, 1) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS d
        FROM e),
      mom AS (
        SELECT user_id, count(*) AS n_gaps,
               ${sqlDecD("sum(CAST(d AS DECIMAL(38,0)))")} AS sd,
               ${sqlDecD("sum(CAST(d AS HUGEINT) * d)")} AS sdd
        FROM g WHERE d IS NOT NULL GROUP BY 1
        HAVING count(*) >= 5),
      m AS (
        SELECT user_id, n_gaps,
               sd / CAST(n_gaps AS DOUBLE) AS mean,
               (sdd - sd * sd / CAST(n_gaps AS DOUBLE))
                 / (CAST(n_gaps AS DOUBLE) - 1e0) AS v
        FROM mom)
      SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
             ${sqlR2("mean / 1e6")} AS mean_gap_s,
             ${sqlR6("sqrt(v) / mean")} AS cv
      FROM m ORDER BY ${sqlR6("sqrt(v) / mean")}, user_id LIMIT 20""")
  )

  /** Sliding-window aggregation — overlapping 2-hour windows every 30
    * minutes via Spark's `window(ts, len, slide)` (each event lands in
    * exactly len/slide = 4 windows; the tumbling case is q_e_hourly).
    * The oracle replays Spark's epoch-aligned window assignment by
    * EXPANDING each event into its 4 slide starts — if Spark's
    * alignment, inclusive/exclusive bounds, or expansion factor drifted,
    * counts and the exact decimal value sum would break. Scale shape:
    * the expansion is the shuffle input (4× rows), then one groupBy —
    * exactly how a streaming engine materializes slides.
    */
  val eSliding = QueryDef(
    "q_e_sliding",
    (s, dir) => {
      t(s, dir, "events")
        .withColumn("tts", timestamp_micros(col("ts")))
        .groupBy(window(col("tts"), "2 hours", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          r2(sumE(col("value"))).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n_events"),
          col("n_users"), col("sum_value"))
        .orderBy("win_start")
    },
    Some(s"""
      WITH k AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS k),
      ex AS (
        SELECT make_timestamp(
                 epoch_us(ts) // 1800000000 * 1800000000
                   - k.k * 1800000000) AS win_start,
               user_id, value
        FROM events CROSS JOIN k)
      SELECT win_start, count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             ${sqlR2(sqlSumE("value"))} AS sum_value
      FROM ex GROUP BY 1 ORDER BY 1""")
  )

  /** Sample-ratio-mismatch check — the first sanity gate any
    * experimentation platform runs before reading an A/B result (a
    * biased assignment invalidates q_e_abtest/q_e_cuped downstream):
    * deterministic 50/50 assignment by user-id parity, χ² against the
    * expected split computed as the EXACT INTEGER (n_a−n_b)²/n (the
    * 2-cell χ² closed form), flagged at the α=0.05 critical value.
    * Distinct users first (one aggregate), then one tiny census.
    */
  val eSrm = QueryDef(
    "q_e_srm",
    (s, dir) => {
      val users = t(s, dir, "events")
        .select(col("user_id")).distinct()
        .select(pmod(col("user_id"), lit(2)).as("variant"))
      users.agg(count(lit(1)).as("n"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("n"), col("n_a"), col("n_b"),
          (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / col("n").cast("double")).as("chi2"),
          (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / col("n").cast("double") > lit(3.841))
            .as("srm_detected"))
    },
    Some(s"""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      v AS (SELECT user_id % 2 AS variant FROM u),
      a AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_a,
               CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b
        FROM v)
      SELECT n, n_a, n_b,
             CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n AS DOUBLE)
               AS chi2,
             CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n AS DOUBLE)
               > 3.841e0 AS srm_detected
      FROM a""")
  )

  /** Weekly engagement stickiness (avg-DAU / WAU) — the product-analytics
    * staple beside q_e_retention: per ISO week, distinct weekly actives,
    * daily-active counts, and the stickiness ratio (how much of the
    * weekly audience shows up on an average day). All counts exact
    * integers; the ratio is one pinned double chain. Two aggregates
    * (day-level, week-level) joined on the week key.
    */
  val eStickiness = QueryDef(
    "q_e_stickiness",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tts", timestamp_micros(col("ts")))
        .withColumn("week", date_trunc("week", col("tts")))
        .withColumn("day", date_trunc("day", col("tts")))
      val daily = e.groupBy("week", "day")
        .agg(count_distinct(col("user_id")).as("dau"))
      val byWeek = daily.groupBy("week")
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
      val wau = e.groupBy("week")
        .agg(count_distinct(col("user_id")).as("wau"))
      byWeek.join(wau, Seq("week"))
        .select(unix_micros(col("week")).as("wk_us"), col("n_days"),
          col("wau"),
          r6(col("sum_dau").cast("double") / col("n_days").cast("double")
            / col("wau").cast("double")).as("stickiness"))
        .orderBy("wk_us")
    },
    Some(s"""
      WITH e AS (
        SELECT date_trunc('week', ts) AS week, date_trunc('day', ts) AS day,
               user_id
        FROM events),
      daily AS (
        SELECT week, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM e GROUP BY 1, 2),
      bw AS (
        SELECT week, count(*) AS n_days,
               CAST(sum(dau) AS BIGINT) AS sum_dau
        FROM daily GROUP BY 1),
      wk AS (
        SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM e GROUP BY 1)
      SELECT epoch_us(bw.week) AS wk_us, bw.n_days, wk.wau,
             ${sqlR6("""CAST(bw.sum_dau AS DOUBLE)
               / CAST(bw.n_days AS DOUBLE) / CAST(wk.wau AS DOUBLE)""")}
               AS stickiness
      FROM bw JOIN wk ON wk.week = bw.week
      ORDER BY 1""")
  )

  /** Power-user curve (the "L5/L7" engagement histogram): per ISO week,
    * how many users were active on exactly k distinct days. Three exact
    * integer aggregations — (week,day,user) distinct, per-user day count,
    * per-(week,k) user count — no doubles anywhere, so the gate is pure
    * count-equality. At scale each stage is one shuffle on progressively
    * smaller keys.
    */
  val ePowercurve = QueryDef(
    "q_e_powercurve",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tts", timestamp_micros(col("ts")))
      val perUser = e
        .select(date_trunc("week", col("tts")).as("week"),
          date_trunc("day", col("tts")).as("day"), col("user_id"))
        .distinct()
        .groupBy("week", "user_id")
        .agg(count(lit(1)).as("n_days"))
      perUser.groupBy("week", "n_days")
        .agg(count(lit(1)).as("n_users"))
        .select(unix_micros(col("week")).as("wk_us"), col("n_days"),
          col("n_users"))
        .orderBy("wk_us", "n_days")
    },
    Some("""
      WITH d AS (
        SELECT DISTINCT date_trunc('week', ts) AS week,
               date_trunc('day', ts) AS day, user_id
        FROM events),
      u AS (
        SELECT week, user_id, count(*) AS n_days
        FROM d GROUP BY 1, 2)
      SELECT epoch_us(week) AS wk_us, n_days, count(*) AS n_users
      FROM u GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Weekly churn / retention accounting: full-outer join of this week's
    * active-user set against last week's (shifted +7 days) classifies every
    * user as retained / churned / new, all exact integers; the churn rate
    * divides churned by last week's actives (= retained + churned, exactly)
    * in one pinned double chain. The join key is (week, user) so the
    * shuffle is the same hash partitioning both sides — no broadcast
    * needed and no skew (users are near-uniform).
    */
  val eChurn = QueryDef(
    "q_e_churn",
    (s, dir) => {
      val w = t(s, dir, "events")
        .select(date_trunc("week", timestamp_micros(col("ts"))).as("week"),
          col("user_id"))
        .distinct()
      val cur = w.withColumn("c", lit(1L))
      val prev = w.select(
        (col("week") + expr("INTERVAL 7 DAYS")).as("week"),
        col("user_id"), lit(1L).as("p"))
      cur.join(prev, Seq("week", "user_id"), "full_outer")
        .groupBy("week")
        .agg(sum(coalesce(col("c"), lit(0L))).as("actives"),
          sum(when(col("c") === 1L && col("p") === 1L, 1L).otherwise(0L))
            .as("retained"),
          sum(when(col("c").isNull, 1L).otherwise(0L)).as("churned"),
          sum(when(col("p").isNull, 1L).otherwise(0L)).as("new_users"))
        .select(unix_micros(col("week")).as("wk_us"), col("actives"),
          col("retained"), col("new_users"), col("churned"),
          when(col("retained") + col("churned") > 0L,
            r6(col("churned").cast("double")
              / (col("retained") + col("churned")).cast("double")))
            .as("churn_rate"))
        .orderBy("wk_us")
    },
    Some(s"""
      WITH w AS (
        SELECT DISTINCT date_trunc('week', ts) AS week, user_id
        FROM events),
      cur AS (SELECT week, user_id, 1 AS c FROM w),
      prev AS (
        SELECT week + INTERVAL 7 DAY AS week, user_id, 1 AS p FROM w),
      j AS (
        SELECT COALESCE(cur.week, prev.week) AS week, c, p
        FROM cur FULL JOIN prev
          ON cur.week = prev.week AND cur.user_id = prev.user_id),
      a AS (
        SELECT week,
               CAST(sum(COALESCE(c, 0)) AS BIGINT) AS actives,
               CAST(sum(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS retained,
               CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS churned,
               CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS new_users
        FROM j GROUP BY 1)
      SELECT epoch_us(week) AS wk_us, actives, retained, new_users, churned,
             CASE WHEN retained + churned > 0 THEN
               ${sqlR6("""CAST(churned AS DOUBLE)
                 / CAST(retained + churned AS DOUBLE)""")}
             END AS churn_rate
      FROM a ORDER BY 1""")
  )

  /** Cohort LTV curves: users are grouped by first-seen week, and each
    * cohort's purchase revenue is tracked per week-since-signup with a
    * cumulative (range-partitioned prefix-scan) running total and the
    * per-user LTV. Revenue is exact integer cents throughout — the
    * running sum never touches a double — and LTV is one pinned division
    * by the exact cohort size. The first-seen week is a groupBy min, not
    * a window over raw events.
    */
  val eLtv = QueryDef(
    "q_e_ltv",
    (s, dir) => {
      import graft.plans.SequenceOps
      val e = t(s, dir, "events")
        .withColumn("week",
          date_trunc("week", timestamp_micros(col("ts"))))
      val first = e.groupBy("user_id").agg(min(col("week")).as("cohort"))
      val sizes = first.groupBy("cohort")
        .agg(count(lit(1)).as("cohort_size"))
      val g = e.join(first, Seq("user_id"))
        .withColumn("wk_idx",
          expr("(unix_micros(week) - unix_micros(cohort))" +
            " div 604800000000"))
        .groupBy("cohort", "wk_idx")
        .agg(count_distinct(col("user_id")).as("n_active"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("rev_cents"))
      val cum = SequenceOps.runningSum(g, Seq("cohort"), Seq("wk_idx"),
        "rev_cents", "cum_cents")
      cum.join(broadcast(sizes), Seq("cohort"))
        .select(unix_micros(col("cohort")).as("cohort_us"), col("wk_idx"),
          col("cohort_size"), col("n_active"), col("rev_cents"),
          col("cum_cents"),
          r6(col("cum_cents").cast("double") / lit(100.0)
            / col("cohort_size").cast("double")).as("ltv"))
        .orderBy("cohort_us", "wk_idx")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, value,
               date_trunc('week', ts) AS week
        FROM events),
      first AS (
        SELECT user_id, min(week) AS cohort FROM e GROUP BY 1),
      sizes AS (
        SELECT cohort, count(*) AS cohort_size FROM first GROUP BY 1),
      g AS (
        SELECT cohort,
               (epoch_us(week) - epoch_us(cohort)) // 604800000000 AS wk_idx,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS rev_cents
        FROM e JOIN first ON first.user_id = e.user_id
        GROUP BY 1, 2),
      c AS (
        SELECT cohort, wk_idx, n_active, rev_cents,
               CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY wk_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_cents
        FROM g)
      SELECT epoch_us(c.cohort) AS cohort_us, wk_idx, cohort_size,
             n_active, rev_cents, cum_cents,
             ${sqlR6("""CAST(cum_cents AS DOUBLE) / 100e0
               / CAST(cohort_size AS DOUBLE)""")} AS ltv
      FROM c JOIN sizes ON sizes.cohort = c.cohort
      ORDER BY 1, 2""")
  )

  /** End-to-end composed streaming pipeline — TWO stateful operators in
    * ONE streaming query: watermarked per-hour (user, type) dedup chained
    * into an hourly windowed aggregate (EventStreams.dedupHourlyActives),
    * append mode, drained through the heartbeat-staged source so the
    * watermark closes every real window (the heartbeat's own window stays
    * open and never emits — no post-filter needed). The individual gates
    * (q_e_dedup_stream, q_e_hourly_stream) prove each stateful operator
    * alone; this proves the engine composes them — one checkpointed
    * pipeline, dedup state and window state evicting off the same
    * watermark. The batch oracle is DISTINCT-then-aggregate; counts are
    * exact integers, bit-exact.
    */
  val ePipelineStream = QueryDef(
    "q_pipeline_stream_e2e",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val df = graft.streaming.EventStreams
          .dedupHourlyActives(s, streamableEventsDirWithHeartbeat(s, dir))
          .select(unix_micros(col("hw.start")).as("hour_us"),
            col("event_type"), col("n_active"))
        runToMemory(s, df, "graft_pipeline_stream_sink")
      }
      drained.orderBy("hour_us", "event_type")
    },
    Some("""
      WITH d AS (
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS hour
        FROM events)
      SELECT epoch_us(hour) AS hour_us, event_type,
             count(*) AS n_active
      FROM d GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  // the RocksDB state-store provider, as a session-conf pair for withConf
  private val RocksdbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** RocksDB state-store gate (r14, verdict headroom item): the identical
    * composed pipeline as q_pipeline_stream_e2e — watermarked dedup
    * chained into an hourly windowed aggregate, two stateful operators in
    * one query — but with the state held by the RocksDB provider instead
    * of the default HDFS-backed in-memory map. This is the 100 TB
    * streaming configuration: the default store keeps every key of every
    * state partition ON HEAP, so a high-cardinality dedup (user × type ×
    * hour keys) is bounded by executor memory; RocksDB spills state to
    * local SSD and checkpoints snapshots to the checkpoint FS, bounding
    * heap by a block cache instead of by key count. Correctness must be
    * provider-independent — the same DISTINCT-then-aggregate batch oracle
    * gates it hash-exactly — and `rocksdb_state` pins into the hash that
    * the RocksDB provider actually held the state: its checkpoints upload
    * `<version>.zip` snapshots under state/, where the HDFS-backed store
    * writes `<version>.delta` files and never a zip.
    */
  val eRocksdbStream = QueryDef(
    "q_e_rocksdb_stream",
    (s, dir) => {
      val sink = "graft_rocksdb_stream_sink"
      s.catalog.dropTempView(sink) // idempotent across bench warm-up reps
      Dirs.scratch("graft_rocksdb_gate") { stage =>
        val ckpt = stage.resolve("ckpt")
        withConf(s, RocksdbProvider) {
          withStatePartitions(s, 8) {
            val q = graft.streaming.EventStreams
              .dedupHourlyActives(s, streamableEventsDirWithHeartbeat(s, dir))
              .select(unix_micros(col("hw.start")).as("hour_us"),
                col("event_type"), col("n_active"))
              .writeStream.format("memory").queryName(sink)
              .option("checkpointLocation", ckpt.toString)
              .outputMode("append").start()
            try q.processAllAvailable() finally q.stop()
          }
          s.table(sink)
            .withColumn("rocksdb_state", lit(stateFiles(ckpt, ".zip") > 0))
            .orderBy("hour_us", "event_type")
            // the memory sink is lazily re-read from the temp view;
            // materialize before the checkpoint dir is deleted below
            .localCheckpoint(true)
        }
      }
    },
    Some("""
      WITH d AS (
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS hour
        FROM events)
      SELECT epoch_us(hour) AS hour_us, event_type,
             count(*) AS n_active, TRUE AS rocksdb_state
      FROM d GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** The body of the three complete-mode restart gates: the events feed
    * is staged as four `event_id mod 4` slices; a checkpointed per-type
    * aggregation (complete mode, one file per trigger, 8 state
    * partitions, `conf` set for both phases) drains the first two into
    * the memory sink `<name>_phase1` and stops, the other two land, and
    * a NEW query restarts from the same checkpoint into `<name>_sink`.
    * The result is that sink plus `resumed` (the restarted run's first
    * data batch continued the checkpoint's numbering) and, for each
    * `(column, suffix)` of `stateCols`, whether files ending in `suffix`
    * exist under the checkpoint's state directory; it is materialized
    * before the scratch directory `name…` goes.
    */
  private def restartAggGate(s: SparkSession, dir: String, name: String,
      conf: Seq[(String, String)],
      stateCols: Seq[(String, String)]): DataFrame = {
    val ev = t(s, dir, "events") // ts normalized to epoch µs
      .select(graft.model.Schemas.events.fieldNames.map(col): _*)
    Dirs.scratch(name) { stage =>
      val feed = stage.resolve("feed")
      val ckpt = stage.resolve("ckpt")
      // one partitioned write pre-stages all four slices (stageSlices);
      // landSlice is the phase-boundary move into the watched feed dir
      QueryDef.stageSlices(
        ev.withColumn("slice", pmod(col("event_id"), lit(4))),
        "slice", 4, stage)
      // one run of the checkpointed aggregation until the feed drains;
      // returns the smallest batchId that actually read rows
      def runPhase(sink: String): Long = {
        s.catalog.dropTempView(sink) // idempotent across bench reps
        drainPhase(s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed.toString)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sumE(col("value")).as("total"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .format("memory").queryName(sink)
          .start())
      }
      withConf(s, conf: _*) {
        withStatePartitions(s, 8) {
          landSlice(stage, feed, 0); landSlice(stage, feed, 1)
          runPhase(s"${name}_phase1") // commits batches 0, 1
          landSlice(stage, feed, 2); landSlice(stage, feed, 3)
          val firstAfterRestart = runPhase(s"${name}_sink")
          val drained = s.table(s"${name}_sink")
            .withColumn("resumed", lit(firstAfterRestart > 0L))
          stateCols
            .foldLeft(drained) { case (df, (c, suffix)) =>
              df.withColumn(c, lit(stateFiles(ckpt, suffix) > 0))
            }
            .orderBy("event_type")
            // the complete-mode sink is lazily re-read from the temp view;
            // materialize before the feed files are deleted
            .localCheckpoint(true)
        }
      }
    }
  }

  /** Checkpoint-restart fault-tolerance gate (r13 verdict order #4):
    * every other streaming entry runs start→drain once; this one proves
    * EXACTLY-ONCE ACROSS A RESTART — the property a production streaming
    * job actually relies on. The events feed is staged as four files; a
    * checkpointed per-type aggregation (complete mode, one file per
    * trigger) drains the first two, is STOPPED, two more files land, and
    * a NEW query object restarts from the same checkpoint. The drained
    * sink must then hold the aggregate of ALL four files exactly once —
    * recovered state + new input, no replay, no loss — so the batch
    * GROUP BY oracle gates it hash-exactly (counts are integers, sums
    * ride DECIMAL(28,6)). The `resumed` column pins the restart itself
    * into the hash: it is TRUE only if the restarted run's first data
    * batch continued the checkpoint's batch numbering (batchId > 0) —
    * a silently-fresh start would flip it (and a fresh start that
    * reprocessed everything would still show batchId 0, not pass).
    */
  val eRestartStream = QueryDef(
    "q_e_restart_stream",
    (s, dir) => restartAggGate(s, dir, "graft_restart_gate", Nil, Nil),
    Some(s"""
      SELECT event_type, count(*) AS n,
             ${sqlSumE("value")} AS total, TRUE AS resumed
      FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** RocksDB-provider checkpoint-restart gate (r14) — completes the
    * {state store} × {lifecycle} matrix: q_e_rocksdb_stream proves the
    * RocksDB provider computes correctly in one lifecycle,
    * q_e_restart_stream proves the default store recovers across a
    * restart; this proves RECOVERY FROM ROCKSDB SNAPSHOTS — the restarted
    * query must rehydrate its state from the uploaded `<version>.zip`
    * snapshots (+ the file-sink/offset commit logs), the recovery path a
    * 100 TB deployment with heap-exceeding state actually exercises after
    * every executor loss. Same staged-feed shape as q_e_restart_stream
    * (complete-mode per-type aggregate, two files per phase), with the
    * provider pinned to RocksDB for BOTH phases; `resumed` pins the
    * continued batch numbering and `rocksdb_state` pins that snapshots
    * exist in the checkpoint, so a silent fall-back to the default store
    * or a fresh start both flip the hash against the batch oracle.
    */
  val eRocksdbRestartStream = QueryDef(
    "q_e_rocksdb_restart_stream",
    (s, dir) => restartAggGate(s, dir, "graft_rocksdb_restart",
      Seq(RocksdbProvider), Seq("rocksdb_state" -> ".zip")),
    Some(s"""
      SELECT event_type, count(*) AS n,
             ${sqlSumE("value")} AS total, TRUE AS resumed,
             TRUE AS rocksdb_state
      FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** RocksDB CHANGELOG-checkpointing restart gate (r15, verdict order #5)
    * — completes the {snapshot, changelog} × {restart} recovery matrix.
    * q_e_rocksdb_restart_stream recovers from `<version>.zip` snapshots
    * (each commit uploads a full snapshot); production deployments run
    * CHANGELOG checkpointing instead, where each batch uploads only a
    * small `<version>.changelog` of that batch's puts/deletes and full
    * snapshots are taken lazily by the maintenance thread — so restart
    * recovery REPLAYS changelogs on top of the latest snapshot, a
    * different code path from snapshot-only recovery (and the one that
    * bounds per-batch checkpoint cost by the batch's state delta instead
    * of the full state size — the knob that matters when state is large
    * and churn is small). Same staged-feed shape as the snapshot gate,
    * with the changelog conf pinned for BOTH phases; `resumed` pins the
    * continued batch numbering and `changelog_state` pins that changelog
    * files actually exist in the checkpoint — a silent fall-back to
    * snapshot-per-commit mode writes zips but no changelogs and flips
    * the hash.
    */
  val eRocksdbChangelogStream = QueryDef(
    "q_e_rocksdb_changelog_stream",
    (s, dir) => restartAggGate(s, dir, "graft_rocksdb_changelog",
      Seq(RocksdbProvider, "spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled" -> "true"),
      Seq("changelog_state" -> ".changelog")),
    Some(s"""
      SELECT event_type, count(*) AS n,
             ${sqlSumE("value")} AS total, TRUE AS resumed,
             TRUE AS changelog_state
      FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** One phase of the two window restart gates: the watermarked
    * (`delay`) hourly per-type window count over `stage/feed`, one file
    * per trigger, checkpointed in `stage/ckpt` and appended to the
    * transactional FILE sink `stage/out` (append-only parquet +
    * _spark_metadata commit log) — the one built-in sink whose
    * exactly-once contract survives a restart (a memory sink refuses to
    * recover a checkpoint in append mode). Every phase writes into the
    * same path under the same checkpoint, so a batch read of `out` sees
    * exactly the committed files. Returns drainPhase's first data batchId.
    */
  private def windowPhase(s: SparkSession, schema: StructType, stage: Path,
      delay: String): Long =
    drainPhase(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.resolve("feed").toString)
      .withColumn("tsc", timestamp_micros(col("ts")))
      .withWatermark("tsc", delay)
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH")
        .as("hour"), col("event_type"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", stage.resolve("ckpt").toString)
      .format("parquet").option("path", stage.resolve("out").toString)
      .start())

  /** Checkpoint-restart of a WATERMARKED append-mode window aggregation —
    * the harder fault-tolerance claim next to q_e_restart_stream's
    * complete-mode aggregate: here the recovered state includes the
    * WATERMARK and the open windows, and append mode means every window may
    * emit exactly once across the whole stop/restart lifetime. The feed
    * is staged as four TIME-QUARTILE files (strictly increasing ranges,
    * so the watermark only moves forward and nothing is late), with a
    * heartbeat pair one day past the data in the last file to close every
    * real window (its own window never emits — the q_pipeline_stream_e2e
    * drain pattern). Phase 1 drains the first two quartiles and stops —
    * early windows have emitted, the boundary window is OPEN in state;
    * a NEW query restarts from the checkpoint over the remaining files.
    * The published rows re-read the transactional file sink both phases
    * appended into: a lost window, a replayed window, or a boundary
    * window double-emitted (`emitted_once` = exactly one committed row)
    * all flip the hash
    * against the plain batch GROUP BY oracle; `resumed` pins that the
    * restart continued the checkpoint's batch numbering.
    */
  val eRestartWindowStream = QueryDef(
    "q_e_restart_window_stream",
    (s, dir) => {
      val fields = graft.model.Schemas.events.fieldNames.map(col)
      val ev = t(s, dir, "events").select(fields: _*).localCheckpoint(true)
      val mm = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .first()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      def cut(i: Int): Long = lo + (hi - lo) / 4 * i
      Dirs.scratch("graft_restart_window") { stage =>
        val feed = stage.resolve("feed")
        // one partitioned write pre-stages all four time-quartile slices,
        // the heartbeat pair in the last (QueryDef.stageSlices)
        QueryDef.stageSlices(
          ev.withColumn("slice",
              when(col("ts") < cut(1), 0)
                .when(col("ts") < cut(2), 1)
                .when(col("ts") < cut(3), 2).otherwise(3))
            .unionByName(heartbeat(s, hi + 86400000000L)
              .withColumn("slice", lit(3))),
          "slice", 4, stage)
        def runPhase(): Long =
          windowPhase(s, ev.schema, stage, "1 second")
        withStatePartitions(s, 8) {
          landSlice(stage, feed, 0); landSlice(stage, feed, 1)
          runPhase()
          landSlice(stage, feed, 2); landSlice(stage, feed, 3)
          val firstAfterRestart = runPhase()
          s.read.parquet(stage.resolve("out").toString)
            .groupBy("hour", "event_type")
            .agg(sum(col("n")).as("n"), count(lit(1)).as("emits"))
            .select(col("hour"), col("event_type"), col("n"),
              (col("emits") === 1L).as("emitted_once"),
              lit(firstAfterRestart > 0L).as("resumed"))
            .orderBy("hour", "event_type")
            .localCheckpoint(true) // materialize before the sink is deleted
        }
      }
    },
    Some("""
      SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
             count(*) AS n, TRUE AS emitted_once, TRUE AS resumed
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Checkpoint-restart under CHANGED runtime conditions (r13 verdict
    * order #5) — the realistic recovery scenario the two gates above
    * idealize away: the restarted cluster is NOT configured like the one
    * that crashed. Phase 1 runs the watermarked append-mode window
    * aggregation with `spark.sql.shuffle.partitions = 8` over the first
    * two time-quartiles and stops mid-lifecycle (every window still OPEN
    * in state — the huge watermark delay keeps anything from emitting);
    * phase 2 restarts from the same checkpoint with the session conf set
    * to 5 AND with one genuinely LATE-ARRIVING file (a 10% slice of
    * events spanning the WHOLE time range, landed only after the
    * restart — admitted because the watermark delay covers the range, the
    * allowed-lateness case production feeds hit daily). Exactly-once must
    * still hold: the final file-sink contents equal the batch GROUP BY
    * over ALL events — recovered state + new quartiles + late rows, no
    * loss, no replay. Two facts are pinned into the hash: `resumed`
    * (restart continued the checkpoint's batch numbering) and
    * `state_parts` — the number of state-store partition directories the
    * restarted run actually used, which must be the CHECKPOINTED 8, not
    * the session's 5 (Structured Streaming pins the stateful-shuffle
    * partition count at the first checkpoint precisely so a reconfigured
    * restart rehydrates instead of corrupting state; a fresh-start bug
    * that honored the new conf would write 5 and flip the hash).
    */
  val eRestartReshuffleStream = QueryDef(
    "q_e_restart_reshuffle_stream",
    (s, dir) => {
      val fields = graft.model.Schemas.events.fieldNames.map(col)
      val ev = t(s, dir, "events").select(fields: _*).localCheckpoint(true)
      val mm = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .first()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      // late slice: 10% of events across the whole range, landed last
      val isLate = pmod(col("event_id"), lit(10)) === 0
      def cut(i: Int): Long = lo + (hi - lo) / 4 * i
      // delay covers the full data range so the late file is ADMITTED
      // (allowed lateness), +2 days of margin; windows then only close on
      // the final heartbeat, whose ts sits one day past hi + delay
      val delayUs = (hi - lo) + 2L * 86400000000L
      val hbTs = hi + delayUs + 86400000000L
      Dirs.scratch("graft_restart_reshuffle") { stage =>
        val feed = stage.resolve("feed")
        // one partitioned write pre-stages all six slices — the four
        // on-time quartiles, the late 10%, the heartbeat pair
        // (QueryDef.stageSlices)
        QueryDef.stageSlices(
          ev.withColumn("slice",
              when(isLate, 4)
                .when(col("ts") < cut(1), 0)
                .when(col("ts") < cut(2), 1)
                .when(col("ts") < cut(3), 2).otherwise(3))
            .unionByName(heartbeat(s, hbTs).withColumn("slice", lit(5))),
          "slice", 6, stage)
        def runPhase(): Long =
          windowPhase(s, ev.schema, stage, s"${delayUs / 1000000L} seconds")
        withStatePartitions(s, 8) {
          landSlice(stage, feed, 0); landSlice(stage, feed, 1)
          runPhase()
        }
        val firstAfterRestart = withStatePartitions(s, 5) {
          landSlice(stage, feed, 2); landSlice(stage, feed, 3)
          landSlice(stage, feed, 4) // the late-arriving file
          landSlice(stage, feed, 5) // the heartbeat pair
          runPhase()
        }
        // state-store layout the RESTARTED run used: one directory per
        // state partition under <ckpt>/state/<operatorId=0>/ — must be
        // the checkpointed 8, not the reconfigured session's 5
        val stateParts = {
          val st = Files.list(stage.resolve("ckpt/state/0"))
          try st.filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.forall(_.isDigit)).count()
          finally st.close()
        }
        s.read.parquet(stage.resolve("out").toString)
          .groupBy("hour", "event_type")
          .agg(sum(col("n")).as("n"), count(lit(1)).as("emits"))
          .select(col("hour"), col("event_type"), col("n"),
            (col("emits") === 1L).as("emitted_once"),
            lit(firstAfterRestart > 0L).as("resumed"),
            lit(stateParts).as("state_parts"))
          .orderBy("hour", "event_type")
          .localCheckpoint(true) // materialize before the sink is deleted
      }
    },
    Some("""
      SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
             count(*) AS n, TRUE AS emitted_once, TRUE AS resumed,
             CAST(8 AS BIGINT) AS state_parts
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  val all: Seq[QueryDef] =
    Seq(eHourly, eSessions, eHourlyStream, eSessionizeStream, ePipelineStream,
      eSessionWindow, eFunnel, eDedup, eDedupStream, eIntervalStream,
      eLeftJoinStream, eFullJoinStream, eClosedSessions, eRetention,
      eEnrichStream,
      eHoltStream, eMarkov, eAttribution,
      eSurvival, eScdStream, eAbTest, eCuped, eCusumStream, eFunnelStream,
      eHwStream, eRfm, eSessionWindowStream, eDid, eLateness, eBotFlag,
      eSliding, eSrm, eStickiness, ePowercurve, eChurn, eLtv,
      eRestartStream, eRestartWindowStream, eRestartReshuffleStream,
      eRocksdbStream, eRocksdbRestartStream, eRocksdbChangelogStream)
}
