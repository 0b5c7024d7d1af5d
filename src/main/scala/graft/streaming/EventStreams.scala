package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.10 notes the
  * reference is batch-only; this is the capability-headroom extension —
  * tumbling-window OHLC-style aggregation and stateful sessionization).
  *
  * Scale: watermarked windowed aggregation is Spark's standard incremental
  * shuffle — state is bounded by (watermark horizon × #keys); the session
  * operator keeps one small state object per user key.
  */
object EventStreams {

  /** events.parquet schema with ts as a raw long; [[readNormalized]]
    * rescales it to epoch µs from the file's own footer annotation
    * (sources.EventsTs) — streaming reads get the same units-robustness
    * as batch.
    */
  val eventSchema: StructType = graft.model.Schemas.events

  /** readStream over a staged events dir with `ts` normalized to epoch
    * µs. The conversion factor resolves driver-side (one footer read)
    * before the streaming plan starts.
    */
  private def readNormalized(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventsTs.normalize(
      spark.readStream.schema(eventSchema).parquet(dir), dir)

  /** Tumbling-window per-type OHLC-ish aggregate as a streaming query. */
  def windowedStats(spark: SparkSession, dir: String,
      windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    readNormalized(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts")))
      .withWatermark("tsm", watermark)
      .groupBy(window(col("tsm"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("value")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        last(col("value")).as("close"),
        sum(col("value")).as("volume"))
  }

  final case class SessionState(lastMs: Long, sessions: Long, events: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful sessionization: a new session after a >30 min silence.
    * One state record per user; update mode emits running totals.
    */
  def sessionize(spark: SparkSession, dir: String,
      gapMs: Long = 30L * 60000): Dataset[UserSessions] = {
    import spark.implicits._
    val events = readNormalized(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ms"))
      .as[(Long, Long)]
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { ms =>
            val newSession = st.lastMs == Long.MinValue || ms - st.lastMs > gapMs
            st = SessionState(ms,
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          UserSessions(user, st.sessions, st.events)
      }
  }

  /** Streaming exact-dedup at ingest: drop events whose dedup key was
    * already seen within the watermark horizon — the streaming form of
    * dedup.Dedup.exactGroups (state bounded by horizon × key cardinality).
    */
  def dedupStream(spark: SparkSession, dir: String,
      keyCols: Seq[String], watermark: String = "1 hour"): DataFrame = {
    readNormalized(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts")))
      .withWatermark("tsm", watermark)
      .dropDuplicates(keyCols :+ "tsm")
  }

  /** Composed MULTI-STATEFUL streaming pipeline: per-hour (user, type)
    * dedup CHAINED INTO a windowed aggregate inside ONE streaming query —
    * two stateful operators (dedup state, then window state) sharing one
    * checkpoint lineage, the shape a real ingest pipeline needs (dedup at
    * the door, aggregate downstream) and the engine capability Spark
    * gates behind append mode + event-time watermarks on every stateful
    * stage. The dedup key includes the event-time window itself, so both
    * operators' state is watermark-evictable. Output is count-only by
    * design: WHICH row of a dup group survives dropDuplicates is
    * arrival-order dependent, so any value aggregate downstream of the
    * dedup would be nondeterministic — the key SET is not.
    */
  def dedupHourlyActives(spark: SparkSession, dir: String,
      watermark: String = "1 hour"): DataFrame =
    readNormalized(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts")))
      .withWatermark("tsm", watermark)
      .withColumn("hw", window(col("tsm"), "1 hour"))
      .dropDuplicates(Seq("user_id", "event_type", "hw"))
      .groupBy(col("hw"), col("event_type"))
      .agg(count(lit(1)).as("n_active"))

  /** Watermarked stream-stream inner join: each purchase event joins the
    * same user's click events from the preceding `lagMinutes`. Both sides
    * carry watermarks AND the join condition bounds event time on both
    * sides — the two requirements that let Spark evict buffered state
    * (without them a stream-stream join accumulates state forever, the
    * classic scale pitfall).
    */
  def purchaseClickJoin(spark: SparkSession, dir: String,
      lagMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    def side(t: String, ts: String, v: String): DataFrame =
      readNormalized(spark, dir)
        .filter(col("event_type") === t)
        .select(col("user_id"),
          timestamp_micros(col("ts")).as(ts),
          col("value").as(v))
        .withWatermark(ts, watermark)
    val purchases = side("purchase", "purchase_ts", "purchase_value")
    val clicks = side("click", "click_ts", "click_value")
      .withColumnRenamed("user_id", "click_user")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts")
          - expr(s"INTERVAL $lagMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select("user_id", "purchase_ts", "purchase_value",
        "click_ts", "click_value")
  }

  /** Watermarked stream-stream LEFT OUTER join: like [[purchaseClickJoin]]
    * but purchases with NO click in the window still emit (null click
    * columns) — the attribution-with-misses shape. Outer rows can only
    * emit once the watermark proves no late match can arrive, i.e. state
    * eviction IS the null-emission mechanism: a purchase's unmatched row
    * appears when the joint watermark passes its eviction bound, and
    * purchases younger than the watermark horizon at end-of-input never
    * resolve. Callers that need the COMPLETE outer join of a finite input
    * must push the watermark past the last purchase — see the heartbeat
    * staging in queries.EventsCatalog (`q_e_left_join_stream`).
    */
  def purchaseClickLeftJoin(spark: SparkSession, dir: String,
      lagMinutes: Int = 30, watermark: String = "1 hour"): DataFrame =
    pcOuterJoin(spark, dir, lagMinutes, watermark, "leftOuter")
      .select("user_id", "purchase_ts", "purchase_value",
        "click_ts", "click_value")

  /** Watermarked stream-stream FULL OUTER join: both unmatched purchases
    * AND unmatched clicks emit null rows for the other side, each via
    * its own side's state eviction — completing the inner/left/full
    * trio. The same heartbeat requirement as [[purchaseClickLeftJoin]]
    * applies to BOTH sides of a finite input.
    */
  def purchaseClickFullJoin(spark: SparkSession, dir: String,
      lagMinutes: Int = 30, watermark: String = "1 hour"): DataFrame =
    pcOuterJoin(spark, dir, lagMinutes, watermark, "fullOuter")
      .select(coalesce(col("user_id"), col("click_user")).as("user_id"),
        col("purchase_ts"), col("purchase_value"),
        col("click_ts"), col("click_value"))

  private def pcOuterJoin(spark: SparkSession, dir: String,
      lagMinutes: Int, watermark: String, joinType: String): DataFrame = {
    def side(t: String, ts: String, v: String): DataFrame =
      readNormalized(spark, dir)
        .filter(col("event_type") === t)
        .select(col("user_id"),
          timestamp_micros(col("ts")).as(ts),
          col("value").as(v))
        .withWatermark(ts, watermark)
    val purchases = side("purchase", "purchase_ts", "purchase_value")
    val clicks = side("click", "click_ts", "click_value")
      .withColumnRenamed("user_id", "click_user")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts")
          - expr(s"INTERVAL $lagMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"),
      joinType)
  }

  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long)

  /** Timeout-CLOSED sessionization: each session row emits exactly once,
    * when the session ends — either a >gap silence observed within the
    * data (closed inline) or the EVENT-TIME TIMEOUT firing once the
    * watermark proves no event can extend the open session. This is the
    * `flatMapGroupsWithState` + `GroupStateTimeout.EventTimeTimeout`
    * state machine ([[sessionize]] is the running-totals form with
    * NoTimeout; this is the emit-on-close form downstream consumers can
    * treat as immutable facts). State per user is one open-session
    * record; timeouts bound its lifetime by the watermark horizon, so
    * state can't accumulate past (gap + delay) × |active users|.
    *
    * A finite input's last open sessions only close if the watermark
    * passes their (last event + gap) — drive this through the heartbeat
    * staging (queries.EventsCatalog) like the outer join.
    */
  def closedSessions(spark: SparkSession, dir: String,
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // the watermarked column must stay in the frame feeding the stateful
    // operator — selecting it away prunes the watermark node and
    // EventTimeTimeout refuses to plan
    val events = readNormalized(spark, dir)
      .withColumn("tsm", timestamp_micros(col("ts")))
      .withWatermark("tsm", watermark)
      .select(col("user_id"), col("ts"), col("tsm"))
      .as[(Long, Long, java.sql.Timestamp)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: nothing can extend the session
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.startUs, s.lastUs, s.n))
          } else {
            // gap math depends only on the sorted multiset of timestamps,
            // so a plain sort is fully deterministic here
            val sorted = rows.map(_._2).toSeq.sorted
            var open = state.getOption
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            sorted.foreach { us =>
              open match {
                case Some(o) if us - o.lastUs > gapUs =>
                  closed += SessionOut(user, o.startUs, o.lastUs, o.n)
                  open = Some(OpenSession(us, us, 1L))
                case Some(o) =>
                  open = Some(o.copy(lastUs = us, n = o.n + 1))
                case None =>
                  open = Some(OpenSession(us, us, 1L))
              }
            }
            open.foreach { o =>
              state.update(o)
              // EventTimeTimeout takes epoch-ms; fires when wm passes it
              state.setTimeoutTimestamp(o.lastUs / 1000L + gapMinutes * 60000L)
            }
            closed.iterator
          }
      }
  }

  final case class FunnelState(v: Option[Long], c: Option[Long],
    b: Option[Long])
  final case class FunnelFirsts(user_id: Long, t_view: Option[Long],
    t_click: Option[Long], t_buy: Option[Long])

  /** Streaming funnel tracking: one tiny (first-view, first-click,
    * first-purchase) record per user carried through mapGroupsWithState —
    * the online form of the q_e_funnel batch query. Each batch folds its
    * rows into the per-user minima and re-emits the user's current firsts
    * (update mode); every component is NONINCREASING, so the consumer's
    * min-per-user collapse converges to the batch answer under any batch
    * split. State is 3 optional longs per user — the smallest possible
    * funnel state, evictable by watermark in a production deployment once
    * a user's funnel window closes.
    */
  def funnelStream(spark: SparkSession, dir: String): Dataset[FunnelFirsts] = {
    import spark.implicits._
    val ev = readNormalized(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[(Long, String, Long)]
    ev.groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelFirsts](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          rows.foreach { case (_, tp, ts) =>
            def mn(o: Option[Long]) = Some(o.fold(ts)(math.min(_, ts)))
            tp match {
              case "view"     => st = st.copy(v = mn(st.v))
              case "click"    => st = st.copy(c = mn(st.c))
              case "purchase" => st = st.copy(b = mn(st.b))
              case _          => ()
            }
          }
          state.update(st)
          FunnelFirsts(user, st.v, st.c, st.b)
      }
  }

  final case class DayMoment(sumScaled: Long, n: Long)
  final case class CusumState(days: Map[Long, DayMoment])
  final case class CusumOut(event_type: String, day_id: Long, n_seen: Long,
    s_pos: Double, s_neg: Double, alarm: Long)

  /** Streaming CUSUM drift monitor (Page 1954) over each event type's
    * DAILY mean value — the online data-quality sentinel a feed pipeline
    * keeps on incoming streams, as the streaming twin of the batch
    * q_m16_cusum operator. Reference mean μ₀ comes from the first
    * `burnInDays` days (the calibration window — a CAUSAL reference, so
    * the monitor is computable online, unlike the batch full-series μ);
    * from day burnIn+1 on, S⁺ = max(0, S⁺ + dev), S⁻ mirrored.
    *
    * Exactness: per-day state is (Σ value·1e6 as HALF_UP-rounded integer,
    * n) — the exact integer image of the batch avgE decimal sum — so the
    * daily mean, its micro-unit quantization, the burn-in reference, and
    * every deviation/recurrence value are the identical integer/IEEE ops
    * the batch oracle replays (deviations scaled by `burnInDays` so μ₀
    * never needs a division).
    *
    * State is one (day → moment) map per event type, CALENDAR-BOUNDED
    * (31 entries per key here; production caps the window or ages out
    * closed days). Each batch re-emits the refreshed series tagged with
    * n_seen (monotone) — consumers keep the max-n_seen row per day, so
    * multi-batch delivery converges to the same table as single-batch.
    */
  def cusumStream(spark: SparkSession, dir: String, burnInDays: Int,
      alarmH: Long): Dataset[CusumOut] = {
    import spark.implicits._
    val ev = readNormalized(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tp, rows, state: GroupState[CusumState]) =>
          var days = state.getOption.map(_.days).getOrElse(Map.empty)
          rows.foreach { case (_, ts, v) =>
            val day = Math.floorDiv(ts, 86400000000L)
            // the exact integer image of avgE's DECIMAL(28,6) cast: Spark's
            // Decimal(double) parses the SHORTEST string repr (not the
            // exact binary expansion) — mirror that, then HALF_UP at 6
            val scaled = new java.math.BigDecimal(
              java.lang.Double.toString(v))
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .movePointRight(6).longValueExact()
            val m = days.getOrElse(day, DayMoment(0L, 0L))
            days = days.updated(day, DayMoment(m.sumScaled + scaled, m.n + 1))
          }
          state.update(CusumState(days))
          val ordered = days.toSeq.sortBy(_._1)
          if (ordered.length <= burnInDays) Iterator.empty
          else {
            val xu = ordered.map { case (day, m) =>
              // Decimal(…,6).toDouble / count — the batch avgE ops
              val mean = java.math.BigDecimal.valueOf(m.sumScaled, 6)
                .doubleValue() / m.n.toDouble
              (day, math.floor(mean * 1e6 + 0.5).toLong)
            }
            val refSum = xu.take(burnInDays).map(_._2).sum
            val den = burnInDays.toDouble * 1000000.0
            val lim = alarmH * 1000000L * burnInDays
            var sPos = 0L
            var sNeg = 0L
            val n = ordered.length.toLong
            xu.drop(burnInDays).iterator.map { case (day, x) =>
              val dev = x * burnInDays - refSum
              sPos = math.max(0L, sPos + dev)
              sNeg = math.max(0L, sNeg - dev)
              CusumOut(tp, day, n, sPos.toDouble / den, sNeg.toDouble / den,
                if (sPos > lim || sNeg > lim) 1L else 0L)
            }.toVector.iterator
          }
      }
  }

  final case class HwStreamOut(event_type: String, day_id: Long,
    n_seen: Long, level: Double, trend: Double, season: Double,
    fitted: Double)

  /** Streaming Holt–Winters: the analytics.HoltWinters additive
    * level/trend/seasonal recurrence maintained ONLINE per event type
    * over the stream's daily mean values — completing the smoothing
    * family in streaming form (q_w12 EWMA → Holt → Holt–Winters, each
    * with a batch and a streaming face). State is the same calendar-
    * bounded (day → exact integer moment) map as [[cusumStream]]; each
    * batch folds its rows in, QUANTIZES the daily means to 6 decimals
    * (floor(x·1e6+0.5)/1e6 — the identical IEEE op sequence both
    * engines run, making the decimal-exact init means portable), re-runs
    * the recurrence, and re-emits the refreshed series tagged with
    * monotone n_seen for multi-batch dedup.
    */
  def holtWintersStream(spark: SparkSession, dir: String, m: Int,
      alpha: Double, beta: Double, gamma: Double): Dataset[HwStreamOut] = {
    import spark.implicits._
    val ev = readNormalized(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, HwStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tp, rows, state: GroupState[CusumState]) =>
          var days = state.getOption.map(_.days).getOrElse(Map.empty)
          rows.foreach { case (_, ts, v) =>
            val day = Math.floorDiv(ts, 86400000000L)
            val scaled = new java.math.BigDecimal(
              java.lang.Double.toString(v))
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .movePointRight(6).longValueExact()
            val mo = days.getOrElse(day, DayMoment(0L, 0L))
            days = days.updated(day,
              DayMoment(mo.sumScaled + scaled, mo.n + 1))
          }
          state.update(CusumState(days))
          val ordered = days.toSeq.sortBy(_._1)
          val ys = ordered.map { case (_, mo) =>
            val mean = java.math.BigDecimal.valueOf(mo.sumScaled, 6)
              .doubleValue() / mo.n.toDouble
            math.floor(mean * 1e6 + 0.5) / 1e6
          }.toIndexedSeq
          val n = ordered.length.toLong
          graft.analytics.HoltWinters.fit(ys, m, alpha, beta, gamma)
            .iterator.map { st =>
              HwStreamOut(tp, ordered(st.t - 1)._1, n, st.level, st.trend,
                st.season, st.fitted)
            }
      }
  }

  final case class HoltState(l: Double, b: Double, n: Long)
  final case class TypeHolt(event_type: String, n: Long, level: Double,
    trend: Double)

  /** Streaming Holt linear-trend smoothing: the [[graft.plans.HoltScan]]
    * level+trend recurrence carried as per-key STATE through
    * `mapGroupsWithState` — the online-forecasting form (state = one
    * (l, b, n) record per key; each batch folds its rows in (ts, event_id)
    * order and emits the running state). The batch HoltScan is the
    * backfill/scale path — this is the low-latency serving path of the
    * same recurrence, the classic lambda pairing. Rows are sorted within
    * each batch; like [[sessionize]], cross-batch order relies on the
    * file source's single-batch delivery of static input.
    *
    * `userMod` thins the stream to the `user_id % userMod == 0` slice —
    * the gated twin keeps the per-key series replayable by a sequential
    * oracle at any SF.
    */
  def holtStream(spark: SparkSession, dir: String, alpha: Double,
      beta: Double, userMod: Long): Dataset[TypeHolt] = {
    import spark.implicits._
    val om = 1.0 - alpha
    val ob = 1.0 - beta
    val ev = readNormalized(spark, dir)
      .filter(col("user_id") % userMod === 0L && col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .as[(String, Long, Long, Double)]
    ev.groupByKey(_._1)
      .mapGroupsWithState[HoltState, TypeHolt](
        GroupStateTimeout.NoTimeout()) {
        case (tp, rows, state: GroupState[HoltState]) =>
          // event-time order at MICROSECOND resolution (ts is already
          // epoch-µs after readNormalized), event_id tie-break: the
          // engine-portable total order
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(HoltState(0.0, 0.0, 0L))
          sorted.foreach { r =>
            val x = r._4
            st =
              if (st.n == 0L) HoltState(x, 0.0, 1L)
              else {
                // the canonical HoltScan operand order — the oracle
                // recursive CTE mirrors it verbatim
                val l1 = om * (st.l + st.b) + alpha * x
                val b1 = beta * (l1 - st.l) + ob * st.b
                HoltState(l1, b1, st.n + 1L)
              }
          }
          state.update(st)
          TypeHolt(tp, st.n, st.l, st.b)
      }
  }

  /** Drive a streaming frame to completion against static input into a
    * memory sink named `name` and return the sink's table. Any earlier
    * view of that name (a previous run's sink) is dropped first, so the
    * result holds exactly this run's output; the query is stopped on
    * return and on throw.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    spark.catalog.dropTempView(name)
    val q = df.writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** Drain one phase of a restart gate: process everything available,
    * then wait — while `q` is still running — for a progress entry that
    * read input rows (at most 100 × 100 ms: progress posts to the
    * listener bus asynchronously, and a stopped query records none, so a
    * post-stop wait could never see a late entry). `q` is stopped on
    * return and on throw. Returns the smallest batchId that read rows;
    * throws, naming `q`, if none was reported.
    */
  def drainPhase(q: StreamingQuery): Long = {
    def dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    try {
      q.processAllAvailable()
      var waited = 0
      while (dataBatches.isEmpty && waited < 100) {
        Thread.sleep(100); waited += 1
      }
    } finally q.stop()
    require(dataBatches.nonEmpty, s"no data batch reported by query " +
      s"${Option(q.name).getOrElse(q.id.toString)} after 10s")
    dataBatches.map(_.batchId).min
  }
}
