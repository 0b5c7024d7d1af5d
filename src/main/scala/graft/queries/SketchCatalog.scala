package graft.queries

import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.OutputMode

import QueryDef._
import graft.sketches.Hll
import graft.streaming.EventStreams.runToMemory

/** Sketch-family twins (capability beyond the reference): mergeable
  * summaries a 100 TB pipeline reaches for when exact answers are
  * unaffordable. The engine-specific hash (xxhash64) is dumped per distinct
  * value under aux/, and the oracle replays EVERYTHING downstream —
  * register indexing, rho ranks, exact-decimal indicator sums, the bias /
  * linear-counting estimate — in DuckDB from those hashes (the same
  * only-the-hash-goes-unchecked contract as the LSH dedup family).
  */
object SketchCatalog {

  // shared parameters, interpolated into BOTH engines' computations
  private val P = 8 // register-index bits → m = 256 registers (~6.5% rse)
  private val M = 1 << P
  private val WBits = 64 - P
  private val WMask = (1L << WBits) - 1
  private val Two62 = 1L << 62

  val auxDumps: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "hll_hashes" -> ((s, dir) =>
      t(s, dir, "orders").select("o_custkey").distinct()
        .withColumn("h", xxhash64(col("o_custkey")))),
    "hll_event_hashes" -> ((s, dir) =>
      t(s, dir, "events").select("user_id").distinct()
        .withColumn("h", xxhash64(col("user_id")))),
    "cms_hashes" -> ((s, dir) =>
      graft.sketches.CountMin.bucketMap(
        sparkToks(s, dir).distinct(), "tok", D, W)),
    "cms_user_hashes" -> ((s, dir) =>
      graft.sketches.CountMin.bucketMap(
        t(s, dir, "events").select("user_id").distinct(), "user_id", D, W)))

  /** HLL approximate distinct customers per order priority, next to the
    * exact count — the sketch-vs-truth audit a user runs before trusting
    * the sketch at scale. m = 256 registers; rho and the indicator sum are
    * exact integer arithmetic in both engines (see sketches.Hll), so only
    * the final division (and `ln` in the linear-counting branch) is
    * floating point — far below the r6 rounding.
    */
  val hllDistinct = QueryDef(
    "q_hll_distinct",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val est = Hll.approxDistinct(o, Seq("o_orderpriority"),
        col("o_custkey"), P)
      val exact = o.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      est.join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), r6(col("hll_est")).as("hll_est"),
          col("exact_distinct"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      WITH hh AS (
        SELECT * FROM read_parquet('__VERIFY_OUT__/_aux/hll_hashes/*.parquet')),
      j AS (
        SELECT DISTINCT o.o_orderpriority, hh.h
        FROM orders o JOIN hh ON hh.o_custkey = o.o_custkey),
      r AS (
        SELECT o_orderpriority, h & ${M - 1} AS reg,
               ${Hll.rhoSql(s"(h >> $P) & $WMask", WBits)} AS rho
        FROM j),
      regs AS (
        SELECT o_orderpriority, reg, max(rho) AS m_rho
        FROM r GROUP BY 1, 2),
      agg AS (
        SELECT o_orderpriority, count(*) AS npres,
               sum(CAST((CAST(1 AS BIGINT) << (62 - m_rho)) AS DECIMAL(38,0))) AS sumi
        FROM regs GROUP BY 1),
      e AS (
        SELECT o_orderpriority, $M - npres AS zeros,
               ${Hll.alphaScale(P)} / CAST(sumi
                 + CAST($M - npres AS DECIMAL(38,0))
                   * CAST($Two62 AS DECIMAL(38,0)) AS DOUBLE) AS raw
        FROM agg),
      est AS (
        SELECT o_orderpriority,
               CASE WHEN raw <= ${2.5 * M} AND zeros > 0
                    THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zeros AS DOUBLE))
                    ELSE raw END AS hll_est
        FROM e),
      ex AS (
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY 1)
      SELECT est.o_orderpriority, ${sqlR6("hll_est")} AS hll_est,
             ex.exact_distinct
      FROM est JOIN ex ON est.o_orderpriority = ex.o_orderpriority
      ORDER BY est.o_orderpriority""")
  )

  /** HLL MERGEABILITY — the property that makes the sketch a 100 TB tool:
    * per-partition register tables combine by register-wise max into the
    * UNION's sketch without touching raw data again. Here: per-priority
    * sketches of the customer set merged into one union estimate, next to
    * the exact union distinct and the (overlap-inflated) sum of the
    * per-priority estimates — the audit showing merge ≠ add. Replays from
    * the same aux hash dump as q_hll_distinct; the merge itself is an
    * integer max in both engines.
    */
  val hllMerge = QueryDef(
    "q_hll_merge",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val regs = Hll.registers(o, Seq("o_orderpriority"),
        col("o_custkey"), P)
      val union = Hll.estimate(
        regs.groupBy("reg").agg(max(col("m_rho")).as("m_rho")), Seq(), P)
      val parts = Hll.estimate(regs, Seq("o_orderpriority"), P)
        .agg(sumE(col("hll_est")).as("sum_parts"))
      val exact = o.agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      union.crossJoin(broadcast(parts)).crossJoin(broadcast(exact))
        .select(r6(col("hll_est")).as("hll_union"),
          r6(col("sum_parts")).as("sum_parts"), col("exact_distinct"))
    },
    Some(s"""
      WITH hh AS (
        SELECT * FROM read_parquet('__VERIFY_OUT__/_aux/hll_hashes/*.parquet')),
      j AS (
        SELECT DISTINCT o.o_orderpriority, hh.h
        FROM orders o JOIN hh ON hh.o_custkey = o.o_custkey),
      r AS (
        SELECT o_orderpriority, h & ${M - 1} AS reg,
               ${Hll.rhoSql(s"(h >> $P) & $WMask", WBits)} AS rho
        FROM j),
      regs AS (
        SELECT o_orderpriority, reg, max(rho) AS m_rho
        FROM r GROUP BY 1, 2),
      merged AS (
        SELECT reg, max(m_rho) AS m_rho FROM regs GROUP BY 1),
      uagg AS (
        SELECT count(*) AS npres,
               sum(CAST((CAST(1 AS BIGINT) << (62 - m_rho)) AS DECIMAL(38,0))) AS sumi
        FROM merged),
      uest AS (
        SELECT CASE WHEN raw <= ${2.5 * M} AND zeros > 0
                    THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zeros AS DOUBLE))
                    ELSE raw END AS hll_union
        FROM (
          SELECT $M - npres AS zeros,
                 ${Hll.alphaScale(P)} / CAST(sumi
                   + CAST($M - npres AS DECIMAL(38,0))
                     * CAST($Two62 AS DECIMAL(38,0)) AS DOUBLE) AS raw
          FROM uagg)),
      pagg AS (
        SELECT o_orderpriority, count(*) AS npres,
               sum(CAST((CAST(1 AS BIGINT) << (62 - m_rho)) AS DECIMAL(38,0))) AS sumi
        FROM regs GROUP BY 1),
      pest AS (
        SELECT CASE WHEN raw <= ${2.5 * M} AND zeros > 0
                    THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zeros AS DOUBLE))
                    ELSE raw END AS hll_est
        FROM (
          SELECT $M - npres AS zeros,
                 ${Hll.alphaScale(P)} / CAST(sumi
                   + CAST($M - npres AS DECIMAL(38,0))
                     * CAST($Two62 AS DECIMAL(38,0)) AS DOUBLE) AS raw
          FROM pagg)),
      ps AS (SELECT ${sqlSumE("hll_est")} AS sum_parts FROM pest),
      ex AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders)
      SELECT ${sqlR6("uest.hll_union")} AS hll_union,
             ${sqlR6("ps.sum_parts")} AS sum_parts, ex.exact_distinct
      FROM uest, ps, ex""")
  )

  // ---- Count-Min sketch ----------------------------------------------

  private val D = 4     // counter rows
  private val W = 4096  // buckets per row (power of two)

  // lowercase whitespace tokens of the documents corpus, both dialects
  private def sparkToks(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .select(explode(split(
        graft.text.TextAnalysis.normText(lower(col("text"))), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
  private val sqlToks = """
        SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        FROM documents"""

  /** Count-Min heavy hitters: top-40 tokens by exact count next to their
    * CMS estimate (the est ≥ exact one-sided-error audit). The seeded
    * xxhash64 bucket mapping per distinct token is dumped under aux/ and
    * the oracle replays everything downstream — counter sums, the min
    * over d rows, the ranking — in exact integer arithmetic.
    */
  val cmsTopk = QueryDef(
    "q_cms_topk",
    (s, dir) => {
      import graft.sketches.CountMin
      val tc = sparkToks(s, dir).groupBy("tok")
        .agg(count(lit(1)).as("exact_cnt"))
      val sk = CountMin.sketch(tc, "tok", "exact_cnt", D, W)
      val est = CountMin.estimate(tc.select("tok"), "tok", sk, D, W)
      tc.join(est, "tok")
        .orderBy(col("exact_cnt").desc, col("tok"))
        .limit(40)
        .select(col("tok"), col("exact_cnt"), col("cms_est"))
    },
    Some(s"""
      WITH tok AS ($sqlToks),
      tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM tok WHERE length(tok) > 0 GROUP BY 1),
      ax AS (
        SELECT * FROM read_parquet('__VERIFY_OUT__/_aux/cms_hashes/*.parquet')),
      ctr AS (
        SELECT i, b, sum(tc.exact_cnt) AS c
        FROM ax JOIN tc USING (tok) GROUP BY 1, 2),
      est AS (
        SELECT ax.tok, CAST(min(ctr.c) AS BIGINT) AS cms_est
        FROM ax JOIN ctr USING (i, b) GROUP BY 1)
      SELECT tc.tok, tc.exact_cnt, est.cms_est
      FROM tc JOIN est USING (tok)
      ORDER BY tc.exact_cnt DESC, tc.tok LIMIT 40""")
  )

  // q_topk_verified parameters: top-K published; heavy-hitter candidate
  // rule est·HeavyDen ≥ N (the φ = 1/HeavyDen frequent-items definition)
  private val TopVK = 20
  private val HeavyDen = 256L

  /** Approximate-then-EXACT verified top-k (r12 verdict headroom item):
    * the two-phase heavy-hitter readout a 100 TB pipeline actually ships.
    * Phase 1 (approximate): fold the token stream into the d×w Count-Min
    * counters (bounded state, map-side combinable — never a per-token
    * shuffle) and take as CANDIDATES the tokens whose sketch estimate
    * clears the φ=1/$HeavyDen frequent-items bar; the estimate is read
    * per occurrence by O(1) lookups into the BROADCAST counter array (a
    * pure projection — no shuffle, no per-key state). Phase 2 (exact):
    * count ONLY candidate tokens (the one keyed shuffle, restricted to a
    * broadcast-bounded key set) and publish the top-$TopVK. The audit
    * makes the approximation SELF-PROVING: CMS estimates are one-sided
    * (est ≥ true count), so if the k-th exact candidate count is STRICTLY
    * greater than the max estimate over NON-candidates, no unseen token
    * can belong in the top-k — strict, because at equality a non-candidate
    * whose true count ties the k-th row could still outrank it under the
    * (count DESC, tok ASC) tie-break (ADVICE r13) — `proved` pins that
    * implication into the hash. Everything is
    * exact integer arithmetic; the oracle replays candidates, exact
    * counts, the bound, and the proof from the dumped bucket mapping.
    */
  /** Query body, parameterized so TopkVerifiedSpec can drive the
    * candidate bar past every token (zero candidates → empty result, no
    * error) — the degenerate path the fixed production bar never hits.
    */
  private[graft] def topkVerifiedRun(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = TopVK,
      heavyDen: Long = HeavyDen): org.apache.spark.sql.DataFrame = {
      import graft.sketches.CountMin
      val toks = sparkToks(s, dir).localCheckpoint(true) // read 4×
      // d×w counters straight from occurrences — each occurrence adds 1
      // to its d cells: groupBy(i,b) over ≤ d·w cells, bounded state,
      // the stream-side build (CountMin.sketch takes pre-aggregated
      // counts; feeding it occurrence rows would join each occurrence
      // with every same-token occurrence and square the counters)
      val sk = CountMin.bucketMap(toks, "tok", D, W)
        .groupBy("i", "b").agg(count(lit(1)).as("c"))
      // broadcast the counters as ONE dense array literal: element_at on
      // an array is O(1) (a map literal would linear-scan its 16k keys
      // per lookup); absent cells are zero
      val cells = new Array[Long](D * W)
      sk.collect().foreach { r =>
        cells(r.getInt(0) * W + r.getLong(1).toInt) = r.getLong(2)
      }
      val arr = typedlit(cells.toSeq)
      val estCol = least((0 until D).map { i =>
        element_at(arr, (xxhash64(lit(i), col("tok"))
          .bitwiseAND(lit((W - 1).toLong)) + lit(i.toLong * W) + lit(1L))
          .cast("int"))
      }: _*)
      val est = toks.withColumn("est", estCol).localCheckpoint(true)
      val tot = broadcast(est.agg(count(lit(1)).as("n_tokens")))
      val cand = est.crossJoin(tot)
        .filter(col("est") * heavyDen >= col("n_tokens"))
        .select("tok").distinct()
      val exact = toks.join(broadcast(cand), "tok")
        .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      val candEst = est.select("tok", "est").distinct()
        .join(broadcast(cand), "tok")
      val topk = exact.join(broadcast(candEst), "tok")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("exact_cnt"), col("tok"))))
        .filter(col("rank") <= k)
      val maxNon = broadcast(est.crossJoin(tot)
        .filter(col("est") * heavyDen < col("n_tokens"))
        .agg(coalesce(max(col("est")), lit(0L)).as("max_noncand_est")))
      val nCand = broadcast(cand.agg(count(lit(1)).as("n_candidates")))
      val kth = broadcast(topk.agg(min(col("exact_cnt")).as("kth")))
      topk.crossJoin(nCand).crossJoin(tot).crossJoin(maxNon).crossJoin(kth)
        .select(col("rank").cast("long").as("rank"), col("tok"),
          col("exact_cnt"), col("est").as("cms_est"),
          col("n_candidates"), col("n_tokens"), col("max_noncand_est"),
          (col("kth") > col("max_noncand_est")).as("proved"))
        .orderBy("rank")
  }

  val topkVerified = QueryDef(
    "q_topk_verified",
    (s, dir) => topkVerifiedRun(s, dir),
    Some(s"""
      WITH tok AS ($sqlToks),
      tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM tok WHERE length(tok) > 0 GROUP BY 1),
      ax AS (
        SELECT * FROM read_parquet('__VERIFY_OUT__/_aux/cms_hashes/*.parquet')),
      ctr AS (
        SELECT i, b, sum(tc.cnt) AS c
        FROM ax JOIN tc USING (tok) GROUP BY 1, 2),
      est AS (
        SELECT ax.tok, CAST(min(ctr.c) AS BIGINT) AS est
        FROM ax JOIN ctr USING (i, b) GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tc),
      cand AS (
        SELECT e.tok, e.est FROM est e CROSS JOIN tot
        WHERE e.est * $HeavyDen >= tot.n_tokens),
      exact AS (
        SELECT tc.tok, tc.cnt AS exact_cnt, c.est
        FROM tc JOIN cand c USING (tok)),
      topk AS (
        SELECT tok, exact_cnt, est,
               row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rank
        FROM exact),
      mn AS (
        SELECT coalesce(CAST(max(e.est) AS BIGINT), 0) AS max_noncand_est
        FROM est e CROSS JOIN tot WHERE e.est * $HeavyDen < tot.n_tokens),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
      kth AS (SELECT min(exact_cnt) AS kth FROM topk WHERE rank <= $TopVK)
      SELECT CAST(t.rank AS BIGINT) AS rank, t.tok, t.exact_cnt,
             t.est AS cms_est, nc.n_candidates, tot.n_tokens,
             mn.max_noncand_est, (kth.kth > mn.max_noncand_est) AS proved
      FROM topk t CROSS JOIN nc CROSS JOIN tot CROSS JOIN mn CROSS JOIN kth
      WHERE t.rank <= $TopVK ORDER BY rank""")
  )

  /** KMV bottom-k distinct sketch (sketches.Kmv) estimating distinct
    * customers per order priority, next to the exact count — the
    * hash-value sibling of q_hll_distinct (KMV additionally supports
    * intersection estimates and is what bottom-k sampling systems ship).
    * No aux dump needed: the hash is the portable md5 60-bit prefix, so
    * DuckDB re-derives the identical bottom-k set and replays the
    * (k−1)·2^60/h_k estimate bit-for-bit (r6 guard only).
    */
  private val KmvK = 256
  val kmvDistinct = QueryDef(
    "q_kmv_distinct",
    (s, dir) => {
      import graft.sketches.Kmv
      val o = t(s, dir, "orders")
      val est = Kmv.estimate(
        Kmv.bottomK(o, Seq("o_orderpriority"), col("o_custkey"), KmvK),
        Seq("o_orderpriority"), KmvK)
      val exact = o.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      est.join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_sketch"),
          r6(col("kmv_est")).as("kmv_est"), col("exact_distinct"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      WITH h AS (
        SELECT DISTINCT o_orderpriority,
               ${graft.sketches.Kmv.sqlKeyHash("o_custkey")} AS h
        FROM orders),
      r AS (
        SELECT o_orderpriority, h,
               row_number() OVER (PARTITION BY o_orderpriority ORDER BY h)
                 AS rn
        FROM h),
      b AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_sketch,
               max(h) AS h_k
        FROM r WHERE rn <= $KmvK GROUP BY 1),
      e AS (
        SELECT o_orderpriority, n_sketch,
               CASE WHEN n_sketch < $KmvK THEN CAST(n_sketch AS DOUBLE)
                    ELSE CAST(${KmvK - 1} AS DOUBLE)
                         * ${graft.sketches.Kmv.HashSpaceSql}
                         / CAST(h_k AS DOUBLE) END AS kmv_est
        FROM b),
      x AS (
        SELECT o_orderpriority,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY 1)
      SELECT e.o_orderpriority, e.n_sketch,
             ${sqlR6("e.kmv_est")} AS kmv_est, x.exact_distinct
      FROM e JOIN x USING (o_orderpriority)
      ORDER BY e.o_orderpriority""")
  )

  /** The HLL registers maintained by the STREAMING engine: readStream over
    * events → the register aggregation (one streaming groupBy(group, reg)
    * max — the mergeable-sketch update IS an aggregate, so Structured
    * Streaming maintains it incrementally with state bounded by
    * |groups|·2^p registers, never by distinct keys) → complete-mode
    * memory sink, then the batch estimate over the final registers.
    * Gated by the SAME aux-hash replay oracle as the batch sketch:
    * approximate-distinct-users-per-event-type where the distinct-user
    * state of an unbounded stream could never be held exactly. rho, the
    * register max, and the indicator sum replay exactly in DuckDB.
    */
  val hllStream = QueryDef(
    "q_hll_stream",
    (s, dir) => {
      val drained = withStatePartitions(s, 8) {
        val src = s.readStream.schema(graft.model.Schemas.events)
          .parquet(EventsCatalog.streamableEventsDir(dir))
        val df = Hll.registers(src, Seq("event_type"), col("user_id"), P)
        runToMemory(s, df, "graft_hll_stream_sink", OutputMode.Complete())
      }
      val exact = t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      Hll.estimate(drained, Seq("event_type"), P)
        .join(exact, "event_type")
        .select(col("event_type"), r6(col("hll_est")).as("hll_est"),
          col("exact_distinct"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH hh AS (
        SELECT * FROM
          read_parquet('__VERIFY_OUT__/_aux/hll_event_hashes/*.parquet')),
      j AS (
        SELECT DISTINCT e.event_type, hh.h
        FROM events e JOIN hh ON hh.user_id = e.user_id),
      r AS (
        SELECT event_type, h & ${M - 1} AS reg,
               ${Hll.rhoSql(s"(h >> $P) & $WMask", WBits)} AS rho
        FROM j),
      regs AS (
        SELECT event_type, reg, max(rho) AS m_rho
        FROM r GROUP BY 1, 2),
      agg AS (
        SELECT event_type, count(*) AS npres,
               sum(CAST((CAST(1 AS BIGINT) << (62 - m_rho)) AS DECIMAL(38,0))) AS sumi
        FROM regs GROUP BY 1),
      e AS (
        SELECT event_type, $M - npres AS zeros,
               ${Hll.alphaScale(P)} / CAST(sumi
                 + CAST($M - npres AS DECIMAL(38,0))
                   * CAST($Two62 AS DECIMAL(38,0)) AS DOUBLE) AS raw
        FROM agg),
      est AS (
        SELECT event_type,
               CASE WHEN raw <= ${2.5 * M} AND zeros > 0
                    THEN ${M.toDouble} * ln(${M.toDouble} / CAST(zeros AS DOUBLE))
                    ELSE raw END AS hll_est
        FROM e),
      ex AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1)
      SELECT est.event_type, ${sqlR6("hll_est")} AS hll_est,
             ex.exact_distinct
      FROM est JOIN ex ON est.event_type = ex.event_type
      ORDER BY est.event_type""")
  )

  /** The CMS counter table maintained by the STREAMING engine: readStream
    * over events → per-row explode to d (row, bucket) increments →
    * streaming groupBy(i, b) count — the mergeable-sketch update IS an
    * aggregate, so Structured Streaming maintains the d×w counters
    * incrementally with state bounded by d·w REGARDLESS of stream length
    * or key cardinality (the whole point of sketching a stream) —
    * complete-mode memory sink, then batch point-estimates for the
    * heaviest users over the final counters. The oracle rebuilds the
    * identical counters from exact per-user counts joined to the dumped
    * (user, row, bucket) mapping and replays the min — integer-exact.
    */
  val cmsTopkStream = QueryDef(
    "q_cms_topk_stream",
    (s, dir) => {
      import graft.sketches.CountMin
      val drained = withStatePartitions(s, 8) {
        val src = s.readStream.schema(graft.model.Schemas.events)
          .parquet(EventsCatalog.streamableEventsDir(dir))
        val df = CountMin.bucketMap(src.select("user_id"), "user_id", D, W)
          .groupBy("i", "b").agg(count(lit(1)).as("c"))
        runToMemory(s, df, "graft_cms_stream_sink", OutputMode.Complete())
      }
      val uc = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
      val est = CountMin.estimate(uc.select("user_id"), "user_id",
        drained, D, W)
      uc.join(est, "user_id")
        .orderBy(col("exact_cnt").desc, col("user_id"))
        .limit(25)
        .select(col("user_id"), col("exact_cnt"), col("cms_est"))
    },
    Some("""
      WITH ax AS (
        SELECT * FROM
          read_parquet('__VERIFY_OUT__/_aux/cms_user_hashes/*.parquet')),
      uc AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM events GROUP BY 1),
      ctr AS (
        SELECT i, b, sum(uc.exact_cnt) AS c
        FROM ax JOIN uc USING (user_id) GROUP BY 1, 2),
      est AS (
        SELECT ax.user_id, CAST(min(ctr.c) AS BIGINT) AS cms_est
        FROM ax JOIN ctr USING (i, b) GROUP BY 1)
      SELECT uc.user_id, uc.exact_cnt, est.cms_est
      FROM uc JOIN est USING (user_id)
      ORDER BY uc.exact_cnt DESC, uc.user_id LIMIT 25""")
  )

  /** KMV set-OPERATION estimates (Beyer et al., SIGMOD 2007 §4): for every
    * pair of order priorities, estimate the Jaccard similarity and the
    * INTERSECTION size of their customer sets from the two bottom-k
    * sketches alone — the multiset-operation capability that makes KMV
    * (not HLL) the sketch an audience-overlap / cross-corpus-contamination
    * job ships. Combine rule: the bottom-k of the UNION of the two
    * sketches' hash sets is a valid sketch of A∪B; with k∧ = rows of that
    * combined bottom-k present in BOTH input sketches, ρ̂ = k∧/k estimates
    * the Jaccard and |A∩B| ≈ ρ̂·D̂(A∪B).
    *
    * Scale: pair combination touches only sketch rows (|pairs|·2k, never
    * the fact table — the whole point); the one fact-table scan builds the
    * per-group sketches. The exact-comparison columns exist to show the
    * estimate landed; they are the bounded-fanout distinct self-join of
    * q_t_vocab_overlap. Determinism: portable md5 hashes, integer
    * ranks/counts, fixed float estimate expressions → r6 guard.
    */
  val kmvJaccard = QueryDef(
    "q_kmv_jaccard",
    (s, dir) => {
      import graft.sketches.Kmv
      val o = t(s, dir, "orders")
      val sk = Kmv.bottomK(o, Seq("o_orderpriority"), col("o_custkey"),
        KmvK)
      val gs = sk.select(col("o_orderpriority").as("ga")).distinct()
      val pairs = gs.crossJoin(broadcast(gs.select(col("ga").as("gb"))))
        .where(col("ga") < col("gb"))
      val aT = broadcast(pairs)
        .join(sk.select(col("o_orderpriority").as("ga"), col("h")), Seq("ga"))
        .select(col("ga"), col("gb"), col("h"), lit(1).as("in_a"),
          lit(0).as("in_b"))
      val bT = broadcast(pairs)
        .join(sk.select(col("o_orderpriority").as("gb"), col("h")), Seq("gb"))
        .select(col("ga"), col("gb"), col("h"), lit(0).as("in_a"),
          lit(1).as("in_b"))
      val uni = aT.unionByName(bT)
        .groupBy("ga", "gb", "h")
        .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      val rn = row_number().over(
        Window.partitionBy("ga", "gb").orderBy("h"))
      val agg = uni.withColumn("rn", rn).filter(col("rn") <= KmvK)
        .groupBy("ga", "gb")
        .agg(count(lit(1)).as("n_sketch"), max("h").as("h_k"),
          sum(col("in_a") * col("in_b")).as("k_int"))
      val jacc = col("k_int").cast("double") / col("n_sketch").cast("double")
      val estU = when(col("n_sketch") < KmvK, col("n_sketch").cast("double"))
        .otherwise(lit((KmvK - 1).toDouble) * lit(Kmv.HashSpace)
          / col("h_k").cast("double"))
      val est = agg.select(col("ga"), col("gb"), col("n_sketch"),
        col("k_int"), jacc.as("jacc"), estU.as("est_union"))
      // exact comparison columns (the vocab-overlap distinct self-join)
      val x = o.select(col("o_orderpriority").as("g"),
        col("o_custkey").as("c")).distinct()
      val sizes = x.groupBy("g").agg(count(lit(1)).as("v"))
      val xin = x.select(col("g").as("ga"), col("c"))
        .join(x.select(col("g").as("gb"), col("c")), Seq("c"))
        .where(col("ga") < col("gb"))
        .groupBy("ga", "gb").agg(count(lit(1)).as("n_int"))
      val xp = sizes.select(col("g").as("ga"), col("v").as("va"))
        .crossJoin(broadcast(sizes.select(col("g").as("gb"), col("v").as("vb"))))
        .where(col("ga") < col("gb"))
        .join(xin, Seq("ga", "gb"), "left")
        .withColumn("n_int", coalesce(col("n_int"), lit(0L)))
      est.join(broadcast(xp), Seq("ga", "gb"))
        .select(col("ga"), col("gb"), col("n_sketch"), col("k_int"),
          r6(col("jacc")).as("kmv_jaccard"),
          r6(col("jacc") * col("est_union")).as("kmv_intersect"),
          col("n_int").as("exact_intersect"),
          r6(col("n_int").cast("double")
            / (col("va") + col("vb") - col("n_int")).cast("double"))
            .as("exact_jaccard"))
        .orderBy("ga", "gb")
    },
    Some(s"""
      WITH h AS (
        SELECT DISTINCT o_orderpriority AS g,
               ${graft.sketches.Kmv.sqlKeyHash("o_custkey")} AS h
        FROM orders),
      r AS (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM h),
      sk AS (SELECT g, h FROM r WHERE rn <= $KmvK),
      gs AS (SELECT DISTINCT g FROM sk),
      pairs AS (
        SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
      tagged AS (
        SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sk s ON s.g = p.gb),
      u AS (
        SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
        FROM tagged GROUP BY 1, 2, 3),
      ru AS (
        SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
        FROM u),
      agg AS (
        SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS h_k,
               CAST(sum(in_a * in_b) AS BIGINT) AS k_int
        FROM ru WHERE rn <= $KmvK GROUP BY 1, 2),
      est AS (
        SELECT ga, gb, n_sketch, k_int,
               CAST(k_int AS DOUBLE) / CAST(n_sketch AS DOUBLE) AS jacc,
               CASE WHEN n_sketch < $KmvK THEN CAST(n_sketch AS DOUBLE)
                    ELSE CAST(${KmvK - 1} AS DOUBLE)
                         * ${graft.sketches.Kmv.HashSpaceSql}
                         / CAST(h_k AS DOUBLE) END AS est_union
        FROM agg),
      x AS (SELECT DISTINCT o_orderpriority AS g, o_custkey AS c
            FROM orders),
      sizes AS (SELECT g, count(*) AS v FROM x GROUP BY 1),
      xin AS (
        SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS n_int
        FROM x a JOIN x b ON a.c = b.c AND a.g < b.g
        GROUP BY 1, 2),
      xp AS (
        SELECT sa.g AS ga, sb.g AS gb, sa.v AS va, sb.v AS vb,
               coalesce(xin.n_int, 0) AS n_int
        FROM sizes sa
        CROSS JOIN sizes sb
        LEFT JOIN xin ON xin.ga = sa.g AND xin.gb = sb.g
        WHERE sa.g < sb.g)
      SELECT est.ga, est.gb, est.n_sketch, est.k_int,
             ${sqlR6("est.jacc")} AS kmv_jaccard,
             ${sqlR6("est.jacc * est.est_union")} AS kmv_intersect,
             xp.n_int AS exact_intersect,
             ${sqlR6("CAST(xp.n_int AS DOUBLE) / CAST(xp.va + xp.vb - xp.n_int AS DOUBLE)")}
               AS exact_jaccard
      FROM est JOIN xp ON xp.ga = est.ga AND xp.gb = est.gb
      ORDER BY est.ga, est.gb""")
  )

  /** Mergeable equi-width-histogram quantile sketch + error audit — the
    * classic fixed-B histogram estimator (the mergeable-summary baseline
    * every quantile sketch is judged against; see Greenwald–Khanna 2001's
    * problem setup): B=64 bin counts over [min,max] (merge = vector add,
    * what makes it a sketch), estimate = linear interpolation inside the
    * bin containing the target rank, audited against the EXACT discrete
    * quantile (ExactQuantiles histogram bisection — no global sort). Same
    * target rank k = (n−1)·p/100 + 1 on both sides (exact integer
    * arithmetic), so est vs exact is an apples-to-apples rank comparison.
    * Bin assignment is one identical IEEE op chain per row → identical
    * bins; counts are exact integers; the interpolation is the same op
    * order in both engines. The ≤64-row cumulative window is bounded by B,
    * not by data.
    */
  val skHistQuantile = {
    val B = 64
    QueryDef(
      "q_sk_hist_quantile",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
        val stats = broadcast(li.agg(min(col("x")).as("lo"),
          max(col("x")).as("hi"), count(lit(1)).as("n")))
        val w = (col("hi") - col("lo")) / lit(B.toDouble)
        val hist = li.crossJoin(stats)
          .select(least(floor((col("x") - col("lo")) / w), lit((B - 1).toLong))
            .as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("cnt"))
        val cum = hist.withColumn("cum",
          sum(col("cnt")).over(Window.orderBy("bin")))
        val pq = s.range(1, 4).select((col("id") * 25).as("pnum"))
        val ks = stats.crossJoin(broadcast(pq))
          .withColumn("k", expr("(n - 1) * pnum div 100") + lit(1L))
        val est = broadcast(ks).join(cum,
            cum("cum") >= ks("k") && (cum("cum") - cum("cnt")) < ks("k"))
          .select(col("pnum"), col("k"),
            (col("lo") + w * col("bin").cast("double")
              + w * ((col("k") - (col("cum") - col("cnt"))).cast("double")
                / col("cnt").cast("double"))).as("est"))
        val exact = graft.analytics.ExactQuantiles.quantiles(
            t(s, dir, "lineitem"), "l_extendedprice", Seq(0.25, 0.5, 0.75),
            buckets = 1024, cutoff = 2000)
          .select((col("q") * 100).cast("long").as("pnum"),
            col("value").as("exact"))
        est.join(broadcast(exact), "pnum")
          .select((col("pnum").cast("double") / lit(100.0)).as("q"),
            r2(col("est")).as("est"), col("exact"),
            r2(abs(col("est") - col("exact"))).as("abs_err"))
          .orderBy("q")
      },
      Some(s"""
        WITH st AS (
          SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
                 count(*) AS n
          FROM lineitem),
        h AS (
          SELECT CAST(least(floor((l_extendedprice - lo) /
                   ((hi - lo) / ${B}e0)), ${B - 1}e0) AS BIGINT) AS bin,
                 count(*) AS cnt
          FROM lineitem, st GROUP BY 1),
        c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM h),
        ks AS (
          SELECT lo, hi, n, pnum, (n - 1) * pnum // 100 + 1 AS k
          FROM st, (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS pnum)),
        e AS (
          SELECT pnum, k,
                 lo + (hi - lo) / ${B}e0 * CAST(bin AS DOUBLE)
                   + (hi - lo) / ${B}e0
                     * (CAST(k - (cum - cnt) AS DOUBLE)
                        / CAST(cnt AS DOUBLE)) AS est
          FROM ks JOIN c ON cum >= k AND (cum - cnt) < k),
        sx AS (
          SELECT l_extendedprice AS v,
                 row_number() OVER (ORDER BY l_extendedprice) AS rn
          FROM lineitem),
        x AS (SELECT pnum, v AS exact FROM ks JOIN sx ON sx.rn = ks.k)
        SELECT CAST(pnum AS DOUBLE) / 100e0 AS q,
               ${sqlR2("est")} AS est, exact,
               ${sqlR2("abs(est - exact)")} AS abs_err
        FROM e JOIN x USING (pnum) ORDER BY q""")
    )
  }

  val all: Seq[QueryDef] =
    Seq(hllDistinct, hllMerge, cmsTopk, topkVerified, kmvDistinct,
      kmvJaccard, hllStream, cmsTopkStream, skHistQuantile)
}
