package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Dirs

import QueryDef._

/** Remaining SURVEY §2 shapes: top-k ordering (O3), the volume-spike
  * summary (A13/P8), and semi-structured JSON extraction from the events
  * `props` column (S-source headroom: the one nested-data field in the
  * testdata).
  */
object MiscCatalog {

  /** O3 (olap_analysis.py:62, datamining_analysis.py:62): global top-k by
    * metric desc with a unique tiebreak.
    */
  val oTopK = QueryDef(
    "q_o3_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(25),
    Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""")
  )

  /** A13/P8 (datavisualization.py:640-675): trailing-MA spike flag and the
    * spike-vs-normal mean |pct-change| summary.
    */
  val aSpikeSummary = QueryDef(
    "q_a13_spike_summary",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = w.rowsBetween(-4, 0)
      t(s, dir, "orders")
        .withColumn("ma", when(count(lit(1)).over(frame) === 5,
          avg(col("o_totalprice")).over(frame)))
        .withColumn("chg",
          col("o_totalprice") / lag(col("o_totalprice"), 1).over(w) - 1)
        .withColumn("is_spike", col("o_totalprice") > col("ma") * lit(1.5))
        .filter(col("is_spike").isNotNull && col("chg").isNotNull)
        .groupBy("is_spike")
        .agg(r6(avg(abs(col("chg")))).as("mean_abs_chg"),
          count(lit(1)).as("n"))
        .orderBy("is_spike")
    },
    Some(s"""
      WITH b AS (
        SELECT o_custkey,
               CASE WHEN count(*) OVER w5 = 5
                 THEN avg(o_totalprice) OVER w5 END AS ma,
               o_totalprice / lag(o_totalprice, 1) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1 AS chg,
               o_totalprice
        FROM orders
        WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      f AS (
        SELECT o_totalprice > ma * 1.5 AS is_spike, chg FROM b
        WHERE ma IS NOT NULL AND chg IS NOT NULL)
      SELECT is_spike, ${sqlR6("avg(abs(chg))")} AS mean_abs_chg, count(*) AS n
      FROM f GROUP BY 1 ORDER BY 1""")
  )

  /** JSON extraction from events.props ({"k": <int>}): per-type sum/avg of
    * the extracted field.
    */
  val eJson = QueryDef(
    "q_e_json",
    (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), r6(avg("k")).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some(s"""
      SELECT event_type,
             CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             ${sqlR6("avg(CAST(json_extract_string(props, '$.k') AS BIGINT))")} AS avg_k,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** A14/F13 twin (datavisualization.py:582-631): per-priority
    * "financial summary" — LOG-annualized return μ·252 from mean
    * row-over-row log change, annualized vol σ·√252, Sharpe vs a 3%
    * risk-free rate. (The reference's exp(μ·252)−1 form lives in
    * analytics.RiskStats for the stock schema; here exp explodes past
    * the r6 rounding domain at tiny SFs — Spark's floor→Long saturates
    * at ~9.2e18 where DuckDB's floor→double doesn't.)
    */
  val aSummary = QueryDef(
    "q_a14_summary",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("lr",
          log(col("o_totalprice") / lag(col("o_totalprice"), 1).over(w)))
        .filter(col("lr").isNotNull)
        .groupBy("o_orderpriority")
        .agg(
          r6(avg(col("lr")) * 252).as("ann_log_return"),
          r6(stddev_samp(col("lr")) * math.sqrt(252)).as("ann_vol"),
          r6((avg(col("lr")) * 252 - 0.03)
            / (stddev_samp(col("lr")) * math.sqrt(252))).as("sharpe"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      WITH r AS (
        SELECT o_orderpriority,
               ln(o_totalprice / lag(o_totalprice, 1) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS lr
        FROM orders)
      SELECT o_orderpriority,
             ${sqlR6("avg(lr) * 252")} AS ann_log_return,
             ${sqlR6("stddev_samp(lr) * sqrt(252)")} AS ann_vol,
             ${sqlR6("(avg(lr) * 252 - 0.03) / (stddev_samp(lr) * sqrt(252))")} AS sharpe,
             count(*) AS n
      FROM r WHERE lr IS NOT NULL GROUP BY 1 ORDER BY 1""")
  )

  /** Shared M3 pipeline: per-customer (mean row-over-row change, mean
    * price) features, population-std scaled, assembled for spark.ml. Used
    * by both the gated query and the centers aux dump so the two fits see
    * byte-identical input plans.
    */
  private[graft] def kmeansAssembled(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // Return/Volume feed the scaler+model as plain doubles; ReturnE/VolumeE
    // are order-independent exact-decimal twins of the SAME averages, used
    // only for the displayed output — per-customer avg(price) lands exactly
    // on half-cent r2 boundaries (prices have 2 decimals), where a
    // shuffle-order ulp would flip the rounded value between engines
    val feats = t(s, dir, "orders")
      .withColumn("chg",
        col("o_totalprice") / lag(col("o_totalprice"), 1).over(w) - 1)
      .groupBy("o_custkey")
      .agg(avg("chg").as("Return"), avg("o_totalprice").as("Volume"),
        avgE18(col("chg")).as("ReturnE"), avgE(col("o_totalprice")).as("VolumeE"))
      .na.drop()
    val scaled = graft.mining.Scaling.standardize(feats, Seq("Return", "Volume"))
    // fit and transform each re-execute the feature lineage (window +
    // aggregate + scaler) — materialize it once, eagerly (one per-customer
    // row, so the footprint is tiny; the Bench/Verify harness unpersists
    // it between queries — see Dedup.materialize for the contract)
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("Return_z", "Volume_z")).setOutputCol("fv")
      .transform(scaled)
      .localCheckpoint(true)
  }

  private[graft] def kmeansFit(assembled: org.apache.spark.sql.DataFrame,
      maxIter: Int = 20) =
    new org.apache.spark.ml.clustering.KMeans()
      .setK(3).setSeed(42L).setMaxIter(maxIter)
      .setFeaturesCol("fv").setPredictionCol("Cluster")
      .fit(assembled)

  private def centersDf(s: org.apache.spark.sql.SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel) = {
    val sp = s
    import sp.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c(0), c(1)) }.toSeq
      .toDF("idx", "c1", "c2")
  }

  /** Centers aux dumps: (idx, c1, c2) of the converged fit (the q_m3
    * oracle replays the nearest-center assignment from it) and of the
    * maxIter=0 fit — i.e. the k-means|| INITIAL centers before any Lloyd
    * update — from which q_m3_lloyd_step's oracle replays one full Lloyd
    * iteration in SQL. Both fits share seed 42 and the byte-identical
    * assembled-features plan, so their initialization is the same.
    */
  val auxDumps: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "kmeans_centers" -> ((s, dir) =>
      centersDf(s, kmeansFit(kmeansAssembled(s, dir)))),
    "kmeans_centers_init" -> ((s, dir) =>
      centersDf(s, kmeansFit(kmeansAssembled(s, dir), maxIter = 0))))

  /** M3 twin (datamining_analysis.py:105-120): K-Means k=3 over per-group
    * scaled features via spark.ml. The oracle recomputes the ENTIRE feature
    * pipeline in SQL (lag-change aggregation, population-std scaling) and
    * assigns each point to the nearest dumped center (squared euclidean,
    * lowest index on ties — spark.ml transform's exact rule), so only the
    * center-finding iterations themselves go unchecked.
    */
  val mKmeans = QueryDef(
    "q_m3_kmeans",
    (s, dir) => {
      val assembled = kmeansAssembled(s, dir)
      kmeansFit(assembled).transform(assembled)
        .select(col("o_custkey"),
          r6(col("ReturnE")).as("Return"), r2(col("VolumeE")).as("Volume"),
          col("Cluster").cast("long").as("Cluster"))
        .orderBy("o_custkey")
    },
    Some(s"""
      WITH chg AS (
        SELECT o_custkey, o_totalprice,
               o_totalprice / lag(o_totalprice, 1) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1
                 AS chg
        FROM orders),
      f AS (
        SELECT o_custkey, avg(chg) AS r, avg(o_totalprice) AS v,
               ${sqlAvgE18("chg")} AS re, ${sqlAvgE("o_totalprice")} AS ve
        FROM chg GROUP BY 1 HAVING avg(chg) IS NOT NULL),
      stats AS (
        SELECT avg(r) AS mr, stddev_pop(r) AS sr,
               avg(v) AS mv, stddev_pop(v) AS sv
        FROM f),
      z AS (
        SELECT o_custkey, re, ve,
               (r - mr) / sr AS rz, (v - mv) / sv AS vz
        FROM f CROSS JOIN stats),
      cents AS (SELECT idx, c1, c2 FROM
        read_parquet('__VERIFY_OUT__/_aux/kmeans_centers/*.parquet')),
      d AS (
        SELECT z.o_custkey, z.re, z.ve, cents.idx,
               row_number() OVER (PARTITION BY z.o_custkey
                 ORDER BY (z.rz - cents.c1) * (z.rz - cents.c1)
                        + (z.vz - cents.c2) * (z.vz - cents.c2), cents.idx)
                 AS rk
        FROM z CROSS JOIN cents)
      SELECT o_custkey, ${sqlR6("re")} AS "Return", ${sqlR2("ve")} AS "Volume",
             CAST(idx AS BIGINT) AS "Cluster"
      FROM d WHERE rk = 1 ORDER BY o_custkey""")
  )

  /** One full Lloyd iteration, oracle-replayed: the Spark side fits with
    * maxIter = 1 (k-means|| init + exactly one assign/mean-update step);
    * the oracle starts from the dumped INITIAL centers (maxIter = 0 fit,
    * same seed and input plan → identical init), assigns every point to
    * its nearest init center in SQL, and averages each cluster's points —
    * arriving at the same updated centers. Extends oracle coverage one
    * step INTO the Lloyd iterations (previously only the converged fixed
    * point was checked, via q_m3_kmeans + KMeansLloydSpec); an empty
    * cluster keeps its init center (spark.ml only updates clusters that
    * received points — the COALESCE mirrors that).
    */
  val mLloydStep = QueryDef(
    "q_m3_lloyd_step",
    (s, dir) => {
      val m = kmeansFit(kmeansAssembled(s, dir), maxIter = 1)
      centersDf(s, m)
        .select(col("idx"), r6(col("c1")).as("c1"), r6(col("c2")).as("c2"))
        .orderBy("idx")
    },
    Some(s"""
      WITH chg AS (
        SELECT o_custkey, o_totalprice,
               o_totalprice / lag(o_totalprice, 1) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1
                 AS chg
        FROM orders),
      f AS (
        SELECT o_custkey, avg(chg) AS r, avg(o_totalprice) AS v
        FROM chg GROUP BY 1 HAVING avg(chg) IS NOT NULL),
      stats AS (
        SELECT avg(r) AS mr, stddev_pop(r) AS sr,
               avg(v) AS mv, stddev_pop(v) AS sv
        FROM f),
      z AS (
        SELECT o_custkey,
               (r - mr) / sr AS rz, (v - mv) / sv AS vz
        FROM f CROSS JOIN stats),
      init AS (SELECT idx, c1, c2 FROM
        read_parquet('__VERIFY_OUT__/_aux/kmeans_centers_init/*.parquet')),
      d AS (
        SELECT z.o_custkey, z.rz, z.vz, init.idx,
               row_number() OVER (PARTITION BY z.o_custkey
                 ORDER BY (z.rz - init.c1) * (z.rz - init.c1)
                        + (z.vz - init.c2) * (z.vz - init.c2), init.idx)
                 AS rk
        FROM z CROSS JOIN init),
      upd AS (
        SELECT idx, avg(rz) AS c1u, avg(vz) AS c2u
        FROM d WHERE rk = 1 GROUP BY 1)
      SELECT init.idx AS idx,
             ${sqlR6("coalesce(upd.c1u, init.c1)")} AS c1,
             ${sqlR6("coalesce(upd.c2u, init.c2)")} AS c2
      FROM init LEFT JOIN upd ON upd.idx = init.idx
      ORDER BY idx""")
  )

  /** As-of join twin: each purchase event picks up the user's most recent
    * click value at-or-before the purchase time. The oracle is DuckDB's
    * NATIVE `ASOF LEFT JOIN` — the Spark union+carry-forward formulation
    * (plans.AsOfJoin) must reproduce it exactly. Right side is
    * pre-aggregated unique per (user, ms) with arg_max tie-breaking so
    * both engines see one candidate per instant.
    */
  val qAsof = QueryDef(
    "q_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("ms", expr("ts div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ms", "event_id", "value")
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ms")
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      graft.plans.AsOfJoin.asofJoin(purchases, clicks, Seq("user_id"),
          "ms", "ms", Seq("click_value"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("asof_click_value"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_ms(ts) AS ms, event_id, value
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, epoch_ms(ts) AS ms,
               arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT p.user_id, p.event_id, p.value,
             c.click_value AS asof_click_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ms >= c.ms
      ORDER BY p.user_id, p.event_id""")
  )

  /** Range-join twin: customers whose account balance falls inside a
    * ±50 band around each part's retail price. The oracle is DuckDB's
    * native inequality join (IEJoin); the Spark side runs the bucketed
    * equi-join formulation (plans.RangeJoin) — exact same matches.
    */
  val qRange = QueryDef(
    "q_range_join",
    (s, dir) => {
      val points = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      val intervals = t(s, dir, "part").select(
        col("p_partkey"),
        (col("p_retailprice") - 50).as("lo"),
        (col("p_retailprice") + 50).as("hi"))
      graft.plans.RangeJoin
        .bucketedRangeJoin(points, "c_acctbal", intervals, "lo", "hi", 100.0)
        .select("c_custkey", "p_partkey", "c_acctbal")
        .orderBy("c_custkey", "p_partkey")
    },
    Some("""
      SELECT c.c_custkey, p.p_partkey, c.c_acctbal
      FROM customer c JOIN part p
        ON c.c_acctbal >= p.p_retailprice - 50
       AND c.c_acctbal <  p.p_retailprice + 50
      ORDER BY c_custkey, p_partkey""")
  )

  /** Rollup capability (beyond the reference — no grouping sets appear in
    * it, SURVEY §2.5): year × priority subtotals and grand total in one
    * pass. Note both engines emit NULL group keys for subtotal rows but
    * default null ORDERING differs (Spark NULLS FIRST asc, DuckDB NULLS
    * LAST) — pinned explicitly.
    */
  /** GROUPING SETS twin (beyond the reference, alongside rollup/cube):
    * explicit set list {(flag, status), (flag), (status)} — the shape
    * rollup/cube can't express — plus grouping_id to disambiguate real
    * NULL keys from subtotal rows.
    */
  val qGroupingSets = QueryDef(
    "q_grouping_sets",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(*) AS n,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag ASC NULLS FIRST,
               l_linestatus ASC NULLS FIRST""")
  )

  val qRollup = QueryDef(
    "q_rollup",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("Year", year(col("o_orderdate")).cast("long"))
        .rollup("Year", "o_orderpriority")
        .agg(r2(avg(col("o_totalprice"))).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("Year"), asc_nulls_first("o_orderpriority")),
    Some(s"""
      SELECT year(o_orderdate) AS "Year", o_orderpriority,
             ${sqlR2("avg(o_totalprice)")} AS avg_price, count(*) AS n
      FROM orders GROUP BY ROLLUP ("Year", o_orderpriority)
      ORDER BY "Year" ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
  )

  /** Cube capability: all 2² grouping sets of (year, status) in one pass. */
  val qCube = QueryDef(
    "q_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("Year", year(col("o_orderdate")).cast("long"))
        .cube("Year", "o_orderstatus")
        .agg(r2(avg(col("o_totalprice"))).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("Year"), asc_nulls_first("o_orderstatus")),
    Some(s"""
      SELECT year(o_orderdate) AS "Year", o_orderstatus,
             ${sqlR2("avg(o_totalprice)")} AS avg_price, count(*) AS n
      FROM orders GROUP BY CUBE ("Year", o_orderstatus)
      ORDER BY "Year" ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""")
  )

  /** Exact quantiles per group: Spark's `percentile` and DuckDB's
    * `quantile_cont` share the linear-interpolation definition (verified
    * to agree to the last bits on this data).
    */
  val qPercentile = QueryDef(
    "q_percentile",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          r2(expr("percentile(o_totalprice, 0.5)")).as("median_price"),
          r2(expr("percentile(o_totalprice, 0.95)")).as("p95_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
    Some(s"""
      SELECT o_orderpriority,
             ${sqlR2("quantile_cont(o_totalprice, 0.5)")} AS median_price,
             ${sqlR2("quantile_cont(o_totalprice, 0.95)")} AS p95_price,
             count(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** Fixed-width histogram: distribution profiling as one count shuffle on
    * the bin key (integer bin arithmetic — exact in both engines).
    */
  val qHistogram = QueryDef(
    "q_histogram",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select((floor(col("l_extendedprice") / 5000) * 5000)
          .cast("long").as("bin_lo"))
        .groupBy("bin_lo").agg(count(lit(1)).as("n"))
        .orderBy("bin_lo"),
    Some("""
      SELECT CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT) AS bin_lo,
             count(*) AS n
      FROM lineitem GROUP BY 1 ORDER BY 1""")
  )

  /** Z-order layout tiles (plans.ZOrder): min-max normalize each key into
    * the full 16-bit domain (exact integer arithmetic — `div`, not FP
    * division — so both engines compute identical ranks at any scale
    * factor), Morton-interleave, bucket by the top 6 z-bits (64 quadtree
    * tiles), report each tile's row count and per-column min/max — the
    * min/max rectangles a lakehouse file-skipping index would store. The
    * bit interleave is generated from one set of constants for BOTH
    * engines (ZOrder.zValue / ZOrder.sqlZValue); the one-row stats frame
    * rides a broadcast cross join.
    */
  private val ZBits = 16
  val qZOrder = QueryDef(
    "q_zorder_tiles",
    (s, dir) => {
      import graft.plans.ZOrder
      val li = t(s, dir, "lineitem")
      val stats = li.agg(
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
      val top = (1L << ZBits) - 1
      val scaled = li.crossJoin(broadcast(stats))
        .withColumn("ps", expr(
          s"((l_partkey - pmin) * $top) div greatest(1, pmax - pmin)"))
        .withColumn("ss", expr(
          s"((l_suppkey - smin) * $top) div greatest(1, smax - smin)"))
      scaled
        .withColumn("z", ZOrder.zValue(Seq(col("ps"), col("ss")), ZBits))
        .withColumn("tile", shiftright(col("z"), ZBits * 2 - 6))
        .groupBy("tile")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("tile")
    },
    Some(s"""
      WITH stats AS (
        SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
               min(l_suppkey) AS smin, max(l_suppkey) AS smax
        FROM lineitem),
      scaled AS (
        SELECT l_partkey, l_suppkey,
               ((l_partkey - pmin) * ${(1L << ZBits) - 1})
                 // greatest(1, pmax - pmin) AS ps,
               ((l_suppkey - smin) * ${(1L << ZBits) - 1})
                 // greatest(1, smax - smin) AS ss
        FROM lineitem CROSS JOIN stats),
      z AS (
        SELECT l_partkey, l_suppkey,
               ${graft.plans.ZOrder.sqlZValue(Seq("ps", "ss"), ZBits)} AS z
        FROM scaled)
      SELECT (z >> ${ZBits * 2 - 6}) AS tile, count(*) AS n,
             min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
      FROM z GROUP BY 1 ORDER BY 1""")
  )

  /** Hilbert-curve layout tiles (plans.HilbertCurve): the same min-max
    * 16-bit normalization and top-6-bit tiling as q_zorder_tiles, but on
    * the Hilbert index — the locality-preserving clustering key whose
    * contiguous ranges are always edge-connected key-space regions
    * (HilbertCurveSpec proves adjacency), so per-tile min/max rectangles
    * are tighter than Morton tiles and a selective scan prunes more
    * files. The index is `HilbertBits` unrolled shift/mask/CASE rounds —
    * a pure codegen'd projection, zero shuffles before the tile count;
    * the oracle replays the identical recurrence as a CTE chain generated
    * from the same constants (HilbertCurve.sqlCtes).
    */
  private val HilbertBits = 16
  val qHilbert = QueryDef(
    "q_hilbert_tiles",
    (s, dir) => {
      import graft.plans.HilbertCurve
      val li = t(s, dir, "lineitem")
      val stats = li.agg(
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
      val top = (1L << HilbertBits) - 1
      val scaled = li.crossJoin(broadcast(stats))
        .withColumn("ps", expr(
          s"((l_partkey - pmin) * $top) div greatest(1, pmax - pmin)"))
        .withColumn("ss", expr(
          s"((l_suppkey - smin) * $top) div greatest(1, smax - smin)"))
      HilbertCurve.withIndex(scaled, col("ps"), col("ss"), HilbertBits, "hd")
        .withColumn("tile", shiftright(col("hd"), HilbertBits * 2 - 6))
        .groupBy("tile")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("tile")
    },
    Some {
      val (ctes, last) =
        graft.plans.HilbertCurve.sqlCtes("scaled", "ps", "ss", HilbertBits)
      s"""
      WITH stats AS (
        SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
               min(l_suppkey) AS smin, max(l_suppkey) AS smax
        FROM lineitem),
      scaled AS (
        SELECT l_partkey, l_suppkey,
               ((l_partkey - pmin) * ${(1L << HilbertBits) - 1})
                 // greatest(1, pmax - pmin) AS ps,
               ((l_suppkey - smin) * ${(1L << HilbertBits) - 1})
                 // greatest(1, smax - smin) AS ss
        FROM lineitem CROSS JOIN stats),
      $ctes
      SELECT (hd >> ${HilbertBits * 2 - 6}) AS tile, count(*) AS n,
             min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
      FROM $last GROUP BY 1 ORDER BY 1"""
    }
  )

  // q_compact_plan constants, shared by both engines
  private val CompactRowBytes = 128L          // simulated bytes per row
  private val CompactTarget = 1L << 20        // 1 MiB target output files

  /** Small-file COMPACTION planner — the OPTIMIZE/rewrite-data-files
    * maintenance pass every lakehouse table needs once streaming/CDC
    * writers fragment it. Planning is greedy locality-preserving bin
    * packing: order each partition's files by their clustering key, run a
    * cumulative byte sum, and cut a new output bin every `CompactTarget`
    * bytes (bin = cumsum-before div target — the associative formulation,
    * one window over the INVENTORY). The inventory here is simulated from
    * the fact table ((returnflag, month) → rows × fixed row size); a real
    * deployment feeds the catalog file listing instead, so the planner's
    * cost is metadata-sized — independent of table bytes, the property
    * that matters at 100 TB. Pure integer arithmetic — bit-exact.
    */
  val qCompactPlan = QueryDef(
    "q_compact_plan",
    (s, dir) => {
      val inv = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("part"),
          date_trunc("month", col("l_shipdate")).cast("timestamp_ntz")
            .as("file_key"))
        .agg((count(lit(1)) * CompactRowBytes).as("bytes"))
      val w = Window.partitionBy("part").orderBy("file_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      inv
        .withColumn("cum_before",
          sum(col("bytes")).over(w) - col("bytes"))
        .withColumn("bin", expr(s"cum_before div ${CompactTarget}L"))
        .groupBy("part", "bin")
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("out_bytes"),
          min(col("file_key")).as("first_key"),
          max(col("file_key")).as("last_key"))
        .withColumn("oversize",
          (col("out_bytes") > CompactTarget * 2).cast("long"))
        .orderBy("part", "bin")
    },
    Some(s"""
      WITH inv AS (
        SELECT l_returnflag AS part,
               date_trunc('month', l_shipdate) AS file_key,
               CAST(count(*) * $CompactRowBytes AS BIGINT) AS bytes
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT part, file_key, bytes,
               CAST(sum(bytes) OVER (PARTITION BY part ORDER BY file_key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes
                 AS BIGINT) AS cum_before
        FROM inv),
      b AS (
        SELECT part, file_key, bytes, cum_before // $CompactTarget AS bin
        FROM c)
      SELECT part, bin, CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(bytes) AS BIGINT) AS out_bytes,
             min(file_key) AS first_key, max(file_key) AS last_key,
             CAST(CASE WHEN sum(bytes) > ${CompactTarget * 2} THEN 1 ELSE 0
               END AS BIGINT) AS oversize
      FROM b GROUP BY 1, 2 ORDER BY part, bin""")
  )

  /** Join-key SKEW profiler — the diagnostic a data engineer runs BEFORE
    * choosing between a plain shuffle join, AQE skew splitting, or the
    * plans.SkewJoin salting path: per candidate key, the hottest keys
    * with their row share, next to the global key count and row count.
    * One count aggregate per key column (map-side combinable) + a tiny
    * top-k — the profile costs one scan regardless of skew. Exact
    * integers; shares are exact rationals → r6.
    */
  val qSkewProfile = QueryDef(
    "q_skew_profile",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def prof(c: String) = {
        val cnt = li.groupBy(col(c).as("key")).agg(count(lit(1)).as("cnt"))
        val tot = cnt.agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"))
        cnt.crossJoin(broadcast(tot))
          .select(lit(c).as("key_col"), col("key"), col("cnt"),
            r6(col("cnt").cast("double") / col("n_rows").cast("double"))
              .as("share"),
            col("n_keys"), col("n_rows"))
          .orderBy(col("cnt").desc, col("key"))
          .limit(5)
      }
      prof("l_orderkey").unionByName(prof("l_partkey"))
        .unionByName(prof("l_suppkey"))
        .orderBy("key_col", "cnt", "key")
    },
    Some {
      def prof(c: String) =
        s"""(
        WITH cnt AS (
          SELECT $c AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
        tot AS (
          SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows
          FROM cnt)
        SELECT '$c' AS key_col, key, CAST(cnt AS BIGINT) AS cnt,
               ${sqlR6("CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)")}
                 AS share,
               n_keys, n_rows
        FROM cnt CROSS JOIN tot
        ORDER BY cnt DESC, key LIMIT 5)"""
      s"""
      SELECT * FROM (
        ${prof("l_orderkey")}
        UNION ALL
        ${prof("l_partkey")}
        UNION ALL
        ${prof("l_suppkey")})
      ORDER BY key_col, cnt, key"""
    }
  )

  /** SCD2 merge (etl.Scd2): seed a type-2 customer dimension at t=0, apply
    * a deterministic change batch (every 7th key gets +100 balance) at
    * t=100, and return the full version history — closed rows carry
    * valid_to = 100, new versions are open. The oracle replays the merge
    * as the equivalent three-way union in SQL.
    */
  val qScd2 = QueryDef(
    "q_scd2_merge",
    (s, dir) => {
      val dim0 = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val changes = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
      graft.etl.Scd2.applyChanges(dim0, changes, Seq("c_custkey"), ts = 100L)
        .orderBy(col("c_custkey"), col("valid_from"))
    },
    Some("""
      WITH dim0 AS (
        SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to
        FROM customer),
      changes AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0)
      SELECT * FROM (
        SELECT d.c_custkey, d.c_acctbal, d.valid_from,
               CASE WHEN ch.c_custkey IS NOT NULL THEN CAST(100 AS BIGINT)
                    ELSE NULL END AS valid_to
        FROM dim0 d LEFT JOIN changes ch ON d.c_custkey = ch.c_custkey
        UNION ALL
        SELECT c_custkey, c_acctbal, CAST(100 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to
        FROM changes)
      ORDER BY c_custkey, valid_from""")
  )

  /** SCD1 / MERGE-INTO upsert (the other half of the dimension-maintenance
    * pair with q_scd2_merge): latest-wins update-else-insert of a change
    * batch into a snapshot — matched keys take the change's values,
    * unmatched changes insert, everything else carries over. One full-outer
    * join, cost ∝ |snapshot|+|changes|, no history table rewrite. The
    * change batch includes NEW keys (key+1000000) so both MERGE arms are
    * exercised; all values are selected/exact → bit-exact gate.
    */
  val qScd1 = QueryDef(
    "q_scd1_merge",
    (s, dir) => {
      val snap = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val changes = t(s, dir, "customer")
        .filter(col("c_custkey") % 5 === 0)
        .select(
          when(col("c_custkey") % 10 === 0,
            col("c_custkey") + 1000000).otherwise(col("c_custkey"))
            .as("c_custkey"),
          (col("c_acctbal") + 50.0).as("c_acctbal"),
          lit("UPSERTED").as("c_mktsegment"))
      snap.join(changes.withColumnRenamed("c_custkey", "k")
          .withColumnRenamed("c_acctbal", "b")
          .withColumnRenamed("c_mktsegment", "m"),
          col("c_custkey") === col("k"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("k")).as("c_custkey"),
          coalesce(col("b"), col("c_acctbal")).as("c_acctbal"),
          coalesce(col("m"), col("c_mktsegment")).as("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH snap AS (
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      changes AS (
        SELECT CASE WHEN c_custkey % 10 = 0 THEN c_custkey + 1000000
                    ELSE c_custkey END AS k,
               c_acctbal + 50.0 AS b, 'UPSERTED' AS m
        FROM customer WHERE c_custkey % 5 = 0)
      SELECT coalesce(s.c_custkey, c.k) AS c_custkey,
             coalesce(c.b, s.c_acctbal) AS c_acctbal,
             coalesce(c.m, s.c_mktsegment) AS c_mktsegment
      FROM snap s FULL OUTER JOIN changes c ON s.c_custkey = c.k
      ORDER BY c_custkey""")
  )

  /** Pearson chi-square test of independence over the (returnflag ×
    * linestatus) contingency table: observed counts are exact integers,
    * expected = rowTotal·colTotal/N composes in double from identical
    * operands in both engines, so the statistic is BIT-exact. The
    * capability the reference's pandas stats stack reaches for with
    * scipy.stats.chi2_contingency — here as two tiny aggregates and a
    * broadcast of the margins.
    */
  val qChi2 = QueryDef(
    "q_a17_chi2",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val obs = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("l_returnflag").agg(sum(col("o")).as("rt"))
      val colT = obs.groupBy("l_linestatus").agg(sum(col("o")).as("ct"))
      val tot = obs.agg(sum(col("o")).as("n"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      obs.join(broadcast(rowT), "l_returnflag")
        .join(broadcast(colT), "l_linestatus")
        .crossJoin(broadcast(tot))
        .select(col("l_returnflag"), col("l_linestatus"), col("o"),
          e.as("expected"),
          ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
            .as("chi2_term"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      WITH obs AS (
        SELECT l_returnflag, l_linestatus, count(*) AS o
        FROM lineitem GROUP BY 1, 2),
      rt AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS rt
             FROM obs GROUP BY 1),
      ct AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS ct
             FROM obs GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
      SELECT obs.l_returnflag, obs.l_linestatus, obs.o,
             CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
               / CAST(tot.n AS DOUBLE) AS expected,
             (CAST(obs.o AS DOUBLE) - CAST(rt.rt AS DOUBLE)
                * CAST(ct.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * (CAST(obs.o AS DOUBLE) - CAST(rt.rt AS DOUBLE)
                * CAST(ct.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
             / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                / CAST(tot.n AS DOUBLE)) AS chi2_term
      FROM obs JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus)
        CROSS JOIN tot
      ORDER BY obs.l_returnflag, obs.l_linestatus""")
  )

  /** Herfindahl–Hirschman concentration index per returnflag: each
    * supplier's revenue share squared, summed — the market-concentration
    * measure next to A11/A14 in the stats family. Shares divide exact
    * decimal sums (identical operands both engines); only the Σshare²
    * reduction is float-order sensitive → r6, the A11 contract. Two
    * aggregates, supplier-share table stays distributed.
    */
  val qHhi = QueryDef(
    "q_a18_hhi",
    (s, dir) => {
      val bySupp = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).as("rev"))
      val byFlag = bySupp.groupBy("l_returnflag")
        .agg(sum(col("rev")).as("tot"))
      bySupp.join(broadcast(byFlag), "l_returnflag")
        .select(col("l_returnflag"),
          (col("rev").cast("double") / col("tot").cast("double")).as("sh"))
        .groupBy("l_returnflag")
        .agg(r6(sum(col("sh") * col("sh")) * 10000).as("hhi"),
          count(lit(1)).as("n_suppliers"))
        .orderBy("l_returnflag")
    },
    Some(s"""
      WITH bySupp AS (
        SELECT l_returnflag, l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,6))) AS rev
        FROM lineitem GROUP BY 1, 2),
      byFlag AS (
        SELECT l_returnflag, sum(rev) AS tot FROM bySupp GROUP BY 1),
      sh AS (
        SELECT b.l_returnflag,
               CAST(b.rev AS DOUBLE) / CAST(f.tot AS DOUBLE) AS sh
        FROM bySupp b JOIN byFlag f USING (l_returnflag))
      SELECT l_returnflag, ${sqlR6("sum(sh * sh) * 10000")} AS hhi,
             count(*) AS n_suppliers
      FROM sh GROUP BY 1 ORDER BY 1""")
  )

  /** Incremental aggregate maintenance (materialized-view refresh): the
    * base partial-aggregate table (orders before 1997) is merged with a
    * delta batch's partials (1997 onward) by RE-AGGREGATING THE PARTIALS —
    * never rescanning base facts. count merges by sum; sum merges by sum
    * (exact decimal, order-free). The oracle computes the same aggregate
    * directly over ALL facts, so the gate proves partial-merge ≡ full
    * recompute — the algebraic property incremental refresh rests on. At
    * 100 TB the delta scan + a partial-sized shuffle replaces a full fact
    * rescan every refresh.
    */
  val qIncAgg = QueryDef(
    "q_inc_agg_merge",
    (s, dir) => {
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(28,6)")).as("spent_d"))
      val o = t(s, dir, "orders")
      val base = partials(o.filter(year(col("o_orderdate")) < 1997))
      val delta = partials(o.filter(year(col("o_orderdate")) >= 1997))
      base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("spent_d")).cast("double").as("spent"))
        .orderBy("o_custkey")
    },
    Some(s"""
      SELECT o_custkey, count(*) AS n_orders,
             ${sqlSumE("o_totalprice")} AS spent
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** EXACT quantiles with no global sort: histogram-bisection selection
    * (analytics.ExactQuantiles) — log_B(n) bounded-histogram passes, then
    * a top-k on the final ≤cutoff slice. The q_percentile entry above is
    * the interpolating aggregate; this one returns actual data elements,
    * so the oracle is a row_number rank lookup — exact value equality, no
    * rounding at all. cutoff=2000 forces ≥1 real bisection pass at sf0.01
    * (60k rows), exercising the multi-pass path under the gate.
    */
  val qQuantileExact = QueryDef(
    "q_quantile_exact",
    (s, dir) =>
      graft.analytics.ExactQuantiles.quantiles(
        t(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95), buckets = 1024, cutoff = 2000)
        .orderBy("q"),
    Some("""
      WITH n AS (SELECT count(*) AS cnt FROM lineitem),
      s AS (
        SELECT l_extendedprice AS value,
               row_number() OVER (ORDER BY l_extendedprice) AS rn
        FROM lineitem),
      qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
      r AS (
        SELECT qs.q AS q,
               CAST(floor(qs.q * (n.cnt - 1)) AS BIGINT) + 1 AS rn
        FROM qs, n)
      SELECT q, value FROM r JOIN s USING (rn) ORDER BY q""")
  )

  /** Mergeable approximate quantiles (sketches.SampleQuantile): a
    * content-addressed Bernoulli sample — md5-hash admission, the same
    * portable uniform as q_t_wsample — whose set-union mergeability makes
    * it the quantile member of the sketch family, then the sample's EXACT
    * lower discrete quantile via histogram bisection (no global sort).
    * The oracle replays admission + rank selection from the raw table:
    * the hash condition, the sample, and the selected element are all
    * deterministic, so q/value/sample_n are bit-exact. cutoff=500 forces
    * a real bisection pass on the ~3k-row sample at sf0.01.
    */
  val qQuantileSample = {
    val P = 0.05
    val Thr = graft.sketches.SampleQuantile.threshold(P)
    QueryDef(
      "q_quantile_sample",
      (s, dir) =>
        graft.sketches.SampleQuantile.quantiles(
          t(s, dir, "lineitem"), "l_extendedprice",
          expr("l_orderkey * 8 + l_linenumber"), P,
          Seq(0.25, 0.5, 0.75, 0.95), buckets = 1024, cutoff = 500)
          .orderBy("q"),
      Some(s"""
        WITH smp AS (
          SELECT l_extendedprice AS value
          FROM lineitem
          WHERE CAST(('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                        AS VARCHAR)), 1, 15)) AS BIGINT) < $Thr),
        n AS (SELECT count(*) AS cnt FROM smp),
        s AS (
          SELECT value, row_number() OVER (ORDER BY value) AS rn FROM smp),
        qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
        r AS (
          SELECT qs.q AS q,
                 CAST(floor(qs.q * (n.cnt - 1)) AS BIGINT) + 1 AS rn,
                 n.cnt AS cnt
          FROM qs, n)
        SELECT r.q AS q, s.value AS value, r.cnt AS sample_n
        FROM r JOIN s USING (rn) ORDER BY q""")
    )
  }

  /** Tukey-fence outlier census: global Q1/Q3 of price via the exact
    * histogram-bisection quantiles (no global sort), fences
    * Q1−1.5·IQR / Q3+1.5·IQR as fixed float trees of the two SELECTED
    * raw values, then per-flag counts below/above — the box-plot
    * outlier readout (the detection complement of q_a23_winsor's
    * clipping transform). Counts are exact integers from one scan with
    * a broadcast 1-row fence; cross-engine exact because the fences
    * are built from identical selected values.
    */
  val qIqrOutliers = QueryDef(
    "q_a27_iqr_outliers",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val qs = graft.analytics.ExactQuantiles.quantiles(
        li, "l_extendedprice", Seq(0.25, 0.75), buckets = 1024,
        cutoff = 2000)
      val fence = qs.agg(
        max(when(col("q") === 0.25, col("value"))).as("q1"),
        max(when(col("q") === 0.75, col("value"))).as("q3"))
        .select(col("q1"), col("q3"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
      li.crossJoin(broadcast(fence))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_above"),
          max(col("lo")).as("fence_lo"), max(col("hi")).as("fence_hi"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH n AS (SELECT count(*) AS cnt FROM lineitem),
      s AS (
        SELECT l_extendedprice AS value,
               row_number() OVER (ORDER BY l_extendedprice) AS rn
        FROM lineitem),
      qs AS (SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE) AS q),
      r AS (
        SELECT qs.q AS q,
               CAST(floor(qs.q * (n.cnt - 1)) AS BIGINT) + 1 AS rn
        FROM qs, n),
      qv AS (
        SELECT max(CASE WHEN q = 0.25 THEN value END) AS q1,
               max(CASE WHEN q = 0.75 THEN value END) AS q3
        FROM r JOIN s USING (rn)),
      fence AS (
        SELECT q1, q3,
               q1 - 1.5e0 * (q3 - q1) AS lo,
               q3 + 1.5e0 * (q3 - q1) AS hi
        FROM qv)
      SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_extendedprice < f.lo THEN 1 ELSE 0 END)
               AS BIGINT) AS n_below,
             CAST(sum(CASE WHEN l.l_extendedprice > f.hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_above,
             max(f.lo) AS fence_lo, max(f.hi) AS fence_hi
      FROM lineitem l CROSS JOIN fence f
      GROUP BY 1 ORDER BY 1""")
  )

  /** PageRank over the customer↔supplier interaction graph (distinct
    * trade pairs from lineitem ⋈ orders, symmetrized so the bipartite
    * graph has no dangling mass). Integer floor-div arithmetic makes all
    * three iterations bit-exact; the oracle replays them as chained CTEs
    * (init → contribution-sum → update, three times) in DuckDB's own
    * integer division, then ranks the top 20 with a total-order
    * tie-break. Node ids pack type into the low bit (cust=2k, supp=2k+1).
    */
  val qPagerank = {
    val K = 3
    val scale = 1000000000000L
    val iterCtes = (1 to K).map { k =>
      s"""c$k AS (
        SELECT e.dst AS node,
               CAST(sum((r.rank * 85) // (e.outdeg * 100)) AS BIGINT) AS s
        FROM ed e JOIN r${k - 1} r ON r.node = e.src GROUP BY 1),
      r$k AS (
        SELECT n.node, b.base + coalesce(c.s, 0) AS rank
        FROM nodes n CROSS JOIN b LEFT JOIN c$k c ON c.node = n.node)"""
    }.mkString(",\n      ")
    QueryDef(
      "q_g_pagerank",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val e0 = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select((col("o_custkey") * 2).cast("long").as("cust"),
            (col("l_suppkey") * 2 + 1).cast("long").as("supp"))
          .distinct()
        val edges = e0.select(col("cust").as("src"), col("supp").as("dst"))
          .unionByName(e0.select(col("supp").as("src"), col("cust").as("dst")))
        graft.graph.PageRank.run(edges, iterations = K, scale = scale)
          .select(
            when(col("node") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("node_type"),
            expr("node div 2").as("node_key"),
            col("rank"))
          .orderBy(col("rank").desc, col("node_type"), col("node_key"))
          .limit(20)
      },
      Some(s"""
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      eall AS (
        SELECT cust AS src, supp AS dst FROM e0
        UNION ALL SELECT supp AS src, cust AS dst FROM e0),
      deg AS (SELECT src, count(*) AS outdeg FROM eall GROUP BY 1),
      ed AS (SELECT e.src, e.dst, d.outdeg FROM eall e JOIN deg d USING (src)),
      nodes AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM eall UNION ALL SELECT dst FROM eall)),
      b AS (
        SELECT ($scale * 15) // (count(*) * 100) AS base,
               $scale // count(*) AS init FROM nodes),
      r0 AS (SELECT node, b.init AS rank FROM nodes CROSS JOIN b),
      $iterCtes
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
             node // 2 AS node_key, rank
      FROM r$K
      ORDER BY rank DESC, node_type, node_key LIMIT 20""")
    )
  }

  // q_g_triangles support filter, shared by both engines: only BULK
  // co-purchases (quantity ≥ TriMinQty) form edges. The unfiltered
  // co-purchase graph is near-complete at bench scale (1.2M edges over 20k
  // parts, avg degree ~120 → 1.9M triangles; DuckDB itself needs 54 s), so
  // counting on it measures graph density, not engine quality — the filter
  // is the support threshold every frequent-itemset pipeline applies before
  // graph analytics, and keeps triangles nonzero at every SF.
  private val TriMinQty = 31

  /** Triangle counting over the bulk co-purchase graph (parts appearing in
    * the same order with quantity ≥ $TriMinQty are linked):
    * graph.Triangles' degree-ordered orientation — every triangle found
    * exactly once, wedge fanout capped at O(√m). Pure integer joins/counts
    * end-to-end → exact, no rounding. Top 20 nodes by triangle count (full
    * order tie-broken by key).
    */
  val qTriangles = QueryDef(
    "q_g_triangles",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_quantity") >= TriMinQty)
        .select("l_orderkey", "l_partkey").distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      graft.graph.Triangles.perNode(pairs)
        .select(col("node").as("p_partkey"), col("triangles"))
        .orderBy(col("triangles").desc, col("p_partkey"))
        .limit(20)
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                  WHERE l_quantity >= $TriMinQty),
      e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      d AS (
        SELECT CASE WHEN (du.deg, e.u) <= (dv.deg, e.v) THEN e.u ELSE e.v
                 END AS src,
               CASE WHEN (du.deg, e.u) <= (dv.deg, e.v) THEN e.v ELSE e.u
                 END AS dst
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
      tri AS (
        SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        FROM d e1 JOIN d e2 ON e1.dst = e2.src
        WHERE EXISTS (SELECT 1 FROM d e3
                      WHERE e3.src = e1.src AND e3.dst = e2.dst)),
      pn AS (
        SELECT node, count(*) AS triangles FROM (
          SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri) GROUP BY 1)
      SELECT node AS p_partkey, triangles
      FROM pn ORDER BY triangles DESC, node LIMIT 20""")
  )

  /** Global + average-local clustering coefficient over the co-purchase
    * graph (same edges as q_g_triangles) — the graph-density summary
    * next to the per-node triangle ranking: C_global = 3T/W with W the
    * exact integer wedge count Σd(d−1)/2, and the Watts–Strogatz average
    * local coefficient mean(2t_v/(d_v(d_v−1))) over nodes of degree ≥ 2,
    * decimal-averaged (avgE18) since every per-node ratio is an
    * identical double. Reuses the degree-ordered triangle enumeration
    * (each triangle counted once, wedge fanout √m-bounded); one degree
    * aggregate on top.
    */
  val qClustCoef = QueryDef(
    "q_g_clustcoef",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_quantity") >= TriMinQty)
        .select("l_orderkey", "l_partkey").distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      val deg = pairs.select(col("src").as("node"))
        .unionAll(pairs.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tri = graft.graph.Triangles.perNode(pairs)
        .select(col("node"), col("triangles"))
      val local = deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("triangles"), lit(0L)).as("t"))
      val agg = local.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("deg_sum"),
        sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges"),
        sum(col("t")).as("t3"),
        avgE18(when(col("deg") >= 2,
          (col("t") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")))
          .as("avg_local_cc"))
      agg.select(col("n_nodes"), expr("deg_sum DIV 2").as("n_edges"),
        col("n_wedges"), expr("t3 DIV 3").as("n_triangles"),
        r6(col("t3").cast("double") / col("n_wedges").cast("double"))
          .as("global_cc"),
        r6(col("avg_local_cc")).as("avg_local_cc"))
    },
    Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                  WHERE l_quantity >= $TriMinQty),
      e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      d AS (
        SELECT CASE WHEN (du.deg, e.u) <= (dv.deg, e.v) THEN e.u ELSE e.v
                 END AS src,
               CASE WHEN (du.deg, e.u) <= (dv.deg, e.v) THEN e.v ELSE e.u
                 END AS dst
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
      tri AS (
        SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        FROM d e1 JOIN d e2 ON e1.dst = e2.src
        WHERE EXISTS (SELECT 1 FROM d e3
                      WHERE e3.src = e1.src AND e3.dst = e2.dst)),
      pn AS (
        SELECT node, count(*) AS t FROM (
          SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri) GROUP BY 1),
      loc AS (
        SELECT deg.node, deg.deg, coalesce(pn.t, 0) AS t
        FROM deg LEFT JOIN pn USING (node)),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(deg) AS BIGINT) AS deg_sum,
               CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
               CAST(sum(t) AS BIGINT) AS t3,
               ${sqlAvgE18("""CASE WHEN deg >= 2 THEN
                 CAST(t * 2 AS DOUBLE)
                   / CAST(deg * (deg - 1) AS DOUBLE) END""")}
                 AS avg_local_cc
        FROM loc)
      SELECT n_nodes, CAST(deg_sum // 2 AS BIGINT) AS n_edges, n_wedges,
             CAST(t3 // 3 AS BIGINT) AS n_triangles,
             ${sqlR6("CAST(t3 AS DOUBLE) / CAST(n_wedges AS DOUBLE)")}
               AS global_cc,
             ${sqlR6("avg_local_cc")} AS avg_local_cc
      FROM a""")
  )

  /** Content checksum audit: an ORDER-INDEPENDENT per-group table
    * fingerprint (row digest = md5 over a canonical field encoding; group
    * checksum = exact decimal SUM of the digests' 60-bit prefixes, plus
    * count and min/max digest) — the cross-replica / cross-engine
    * integrity check a 100 TB migration runs instead of comparing rows.
    * Any engine that can md5 the same canonical encoding reproduces the
    * checksum exactly, partition order and all — which is precisely what
    * this gate proves (DuckDB recomputes it from the raw table). Doubles
    * enter the digest as DECIMAL(18,6) strings, the engine-portable
    * rendering (raw double→string formatting differs across engines).
    * One scan, map-side-combinable aggregate, ≤|groups| output rows.
    */
  val qChecksum = QueryDef(
    "q_audit_checksum",
    (s, dir) => {
      val digest = graft.functions.Md5Prefix60.md5Prefix60(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,6)"),
        col("l_extendedprice").cast("decimal(18,6)"),
        col("l_returnflag"),
        unix_date(col("l_shipdate").cast("date"))))
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(digest.cast("decimal(38,0)")).cast("string").as("checksum"),
          min(digest).as("min_digest"), max(digest).as("max_digest"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH d AS (
        SELECT l_returnflag,
               CAST(('0x' || substr(md5(
                 l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR || '|'
                 || CAST(l_quantity AS DECIMAL(18,6))::VARCHAR || '|'
                 || CAST(l_extendedprice AS DECIMAL(18,6))::VARCHAR || '|'
                 || l_returnflag || '|'
                 || (CAST(l_shipdate AS DATE) - DATE '1970-01-01')::VARCHAR
               ), 1, 15)) AS BIGINT) AS dig
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows,
             CAST(sum(CAST(dig AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
             min(dig) AS min_digest, max(dig) AS max_digest
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** Column profiler via per-column VALUE HISTOGRAMS — for each profiled
    * column, one job that scans ONLY that parquet column (column-pruned
    * read), map-side combines to ≤|distinct| rows, and derives every
    * metric from the histogram: n_rows = Σcnt, nulls from the null
    * group, n_distinct = #groups, min/max = group-key extremes, and the
    * exact mean as Σ(v·cnt) in DECIMAL (order-independent) over the
    * non-null count. This beats the single-pass multi-countDistinct
    * Expand shape at any scale: no 5× row replication through one hash
    * aggregate, network per column bounded by the distinct-value count,
    * and total IO equal to one full-width scan (measured 5.0 s → 0.5 s
    * steady at sf0.1). All outputs exact → no rounding.
    */
  val qProfile = QueryDef(
    "q_p_profile",
    (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = t(s, dir, "lineitem")
      cols.map { c =>
        li.select(col(c).as("v"))
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).as("n_rows"),
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
              .as("n_null"),
            count(col("v")).as("n_distinct"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"),
            // DECIMAL(18,6) × DECIMAL(19,0) stays within every engine's
            // 38-digit multiply cap; values < 1e12 and cnt < 1e19 fit
            (sum(col("v").cast("decimal(18,6)") *
              col("cnt").cast("decimal(19,0)")).cast("double") /
              sum(when(col("v").isNotNull, col("cnt"))).cast("double"))
              .as("mean_v"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"), col("mean_v"))
      }.reduce(_ unionByName _).orderBy("col_name")
    },
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS col_name,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0)
               AS BIGINT) AS n_null,
             count(v) AS n_distinct,
             min(v) AS min_v, max(v) AS max_v,
             CAST(sum(CAST(v AS DECIMAL(18,6)) * CAST(cnt AS DECIMAL(19,0)))
               AS DOUBLE)
               / CAST(sum(CASE WHEN v IS NOT NULL THEN cnt END) AS DOUBLE)
               AS mean_v
           FROM (SELECT $c AS v, count(*) AS cnt FROM lineitem GROUP BY 1)
          """).mkString("\n UNION ALL \n") +
        "\n ORDER BY col_name"
    }
  )

  /** Benford first-significant-digit audit of l_extendedprice — the
    * classic fraud/data-quality screen. The digit is extracted from the
    * DECIMAL(18,2) string form (plain notation in every engine; raw
    * double→string E-notation is NOT portable), valid because every
    * price ≥ 1. Counts are exact; the share is one int/int double
    * division. One scan + one tiny aggregate (≤9 rows) with the total
    * broadcast back — no second scan.
    */
  val qBenford = QueryDef(
    "q_a19_benford",
    (s, dir) => {
      val d = t(s, dir, "lineitem").select(
        substring(col("l_extendedprice").cast("decimal(18,2)")
          .cast("string"), 1, 1).as("digit"))
      val h = d.groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = h.agg(sum(col("n")).as("total"))
      h.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total").cast("double")).as("pct"))
        .orderBy("digit")
    },
    Some("""
      WITH d AS (
        SELECT substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
                      1, 1) AS digit
        FROM lineitem),
      h AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
      SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS pct
      FROM h, t ORDER BY digit""")
  )

  /** Per-priority Gini coefficient of order value — the inequality/
    * concentration measure next to A18's Herfindahl. Prices quantized to
    * integer cents, then analytics.RankStats.gini's histogram +
    * range-partitioned prefix sum (no global sort, no single-partition
    * window); the rank-weighted sum accumulates in DECIMAL(38,0) so the
    * result is bit-exact. The oracle replays the same tie-block closed
    * form with SQL windows.
    */
  val qGini = QueryDef(
    "q_a20_gini",
    (s, dir) => {
      val src = t(s, dir, "orders").select(
        col("o_orderpriority"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      graft.analytics.RankStats.gini(src, "cents", "o_orderpriority")
        .orderBy("o_orderpriority")
    },
    Some("""
      WITH src AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      h AS (
        SELECT o_orderpriority, cents, count(*) AS c
        FROM src GROUP BY 1, 2),
      cu AS (
        SELECT o_orderpriority, cents, c,
               CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM h),
      a AS (
        SELECT o_orderpriority,
               sum(CAST(cents AS DECIMAL(18,0))
                   * CAST(2 * (cum - c) * c + c * (c + 1) AS DECIMAL(19,0)))
                 AS s1x2,
               CAST(sum(cents * c) AS BIGINT) AS s,
               CAST(sum(c) AS BIGINT) AS n
        FROM cu GROUP BY 1)
      SELECT o_orderpriority, n,
             CAST(s1x2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
               - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
      FROM a ORDER BY o_orderpriority""")
  )

  /** Per-flag Shannon entropy of the discount-level distribution — the
    * diversity measure next to A18's Herfindahl and A20's Gini. Level
    * shares are exact integer ratios; the Σ p·ln p accumulation goes
    * through DECIMAL(38,18) (order-independent — each term is the same
    * double in any engine, only the ln is transcendental) and the final
    * entropy and its ln(k)-normalized form take r6. Two aggregations +
    * one ≤|flags|-row broadcast join.
    */
  val qEntropy = QueryDef(
    "q_a21_entropy",
    (s, dir) => {
      val lvl = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("lvl"))
        .agg(count(lit(1)).as("c"))
      val tot = lvl.groupBy("l_returnflag")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
      val p = col("c").cast("double") / col("n").cast("double")
      lvl.join(broadcast(tot), "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("k"),
          (-p * log(p)).as("term"))
        .groupBy("l_returnflag")
        .agg(max(col("n")).as("n"), max(col("k")).as("n_levels"),
          r6(sum(col("term").cast("decimal(38,18)")).cast("double"))
            .as("entropy"),
          r6(sum(col("term").cast("decimal(38,18)")).cast("double") /
            log(max(col("k")).cast("double"))).as("entropy_norm"))
        .orderBy("l_returnflag")
    },
    Some(s"""
      WITH lvl AS (
        SELECT l_returnflag,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS lvl,
               count(*) AS c
        FROM lineitem GROUP BY 1, 2),
      tot AS (
        SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n, count(*) AS k
        FROM lvl GROUP BY 1),
      term AS (
        SELECT lvl.l_returnflag, tot.n, tot.k,
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
        FROM lvl JOIN tot USING (l_returnflag))
      SELECT l_returnflag, max(n) AS n, max(k) AS n_levels,
             ${sqlR6("CAST(sum(CAST(term AS DECIMAL(38,18))) AS DOUBLE)")}
               AS entropy,
             ${sqlR6("""CAST(sum(CAST(term AS DECIMAL(38,18))) AS DOUBLE)
               / ln(CAST(max(k) AS DOUBLE))""")} AS entropy_norm
      FROM term GROUP BY 1 ORDER BY 1""")
  )

  /** A22 capability: mutual information + Cramér's V of the
    * (returnflag × linestatus) contingency — the dependence measures a
    * feature-selection pass runs over categorical pairs, the information-
    * theoretic counterpart to q_a17's χ². Exact integer cell counts and
    * margins (one cells aggregation, margins re-aggregated from the ≤
    * |A|×|B| cell table — never a second fact scan); per-cell terms
    * compose in double from identical operands (the q_a21 ln contract),
    * are decimal-accumulated (order-independent), and the two statistics
    * take r6.
    */
  val qMi = QueryDef(
    "q_a22_mi",
    (s, dir) => {
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
        .agg(count(lit(1)).as("nij"))
      val ra = cells.groupBy("a").agg(sum("nij").as("ri"))
      val cb = cells.groupBy("b").agg(sum("nij").as("cj"))
      val tot = cells.agg(sum("nij").as("n"),
        countDistinct("a").as("ka"), countDistinct("b").as("kb"))
      val nd = col("n").cast("double")
      val pij = col("nij").cast("double") / nd
      val miTerm = pij * log(nd * col("nij").cast("double") /
        (col("ri").cast("double") * col("cj").cast("double")))
      val e = col("ri").cast("double") * col("cj").cast("double") / nd
      val chiTerm = (col("nij").cast("double") - e) *
        (col("nij").cast("double") - e) / e
      cells.join(broadcast(ra), "a").join(broadcast(cb), "b")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("ka"), col("kb"),
          miTerm.as("mi_t"), chiTerm.as("chi_t"))
        .groupBy("n", "ka", "kb")
        .agg(
          r6(sum(col("mi_t").cast("decimal(38,18)")).cast("double"))
            .as("mi"),
          r6(sqrt(sum(col("chi_t").cast("decimal(38,18)")).cast("double")
            / (col("n").cast("double")
              * least(col("ka") - 1L, col("kb") - 1L).cast("double"))))
            .as("cramers_v"))
    },
    Some(s"""
      WITH cells AS (
        SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS nij
        FROM lineitem GROUP BY 1, 2),
      ra AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ri FROM cells GROUP BY 1),
      cb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS cj FROM cells GROUP BY 1),
      tot AS (
        SELECT CAST(sum(nij) AS BIGINT) AS n,
               count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
        FROM cells),
      term AS (
        SELECT tot.n, tot.ka, tot.kb,
               (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)
                     / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE))) AS mi_t,
               (CAST(nij AS DOUBLE)
                  - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
                    / CAST(n AS DOUBLE))
               * (CAST(nij AS DOUBLE)
                  - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS chi_t
        FROM cells
        JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
      SELECT n, ka, kb,
             ${sqlR6("CAST(sum(CAST(mi_t AS DECIMAL(38,18))) AS DOUBLE)")}
               AS mi,
             ${sqlR6("""sqrt(CAST(sum(CAST(chi_t AS DECIMAL(38,18)))
                 AS DOUBLE)
               / (CAST(n AS DOUBLE)
                  * CAST(least(ka - 1, kb - 1) AS DOUBLE)))""")}
               AS cramers_v
      FROM term GROUP BY 1, 2, 3""")
  )

  /** Snapshot-diff CDC audit via etl.SnapshotDiff: recover the change
    * batch between two full snapshots with ONE key-keyed full-outer join
    * (payloads travel as md5 fingerprints). The twin derives both
    * snapshots deterministically from `orders` — B inserts 1997's orders,
    * deletes md5-bucket-0 of the old keys, and bumps bucket-1 prices —
    * and gates per-class counts plus an order-independent decimal key
    * checksum (the q_audit_checksum contract), all exact integers.
    */
  val qSnapshotDiff = QueryDef(
    "q_audit_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val bucket =
        graft.functions.Md5Prefix60.md5Prefix60(col("o_orderkey")) % 50L
      val base = o.withColumn("__bk", bucket)
        .withColumn("__old", col("o_orderdate") < lit("1997-01-01"))
      val snapA = base.filter(col("__old"))
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val snapB = base
        .filter(col("o_orderdate") < lit("1998-01-01"))
        .filter(!(col("__old") && col("__bk") === 0L))
        .withColumn("price",
          when(col("__old") && col("__bk") === 1L,
            col("o_totalprice").cast("decimal(18,2)") + 1L)
            .otherwise(col("o_totalprice").cast("decimal(18,2)")))
      def payload(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey"), col("price").cast("string").as("p1"),
        col("o_orderstatus").as("p2"))
      val d = graft.etl.SnapshotDiff.diff(
        payload(snapA), payload(snapB), Seq("o_orderkey"), Seq("p1", "p2"))
      val dig = graft.functions.Md5Prefix60.md5Prefix60(col("o_orderkey"))
      d.groupBy("change")
        .agg(count(lit(1)).as("n"),
          sum(dig.cast("decimal(38,0)")).cast("string").as("key_checksum"))
        .orderBy("change")
    },
    Some("""
      WITH b AS (
        SELECT o_orderkey, o_orderstatus, o_orderdate,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))
                 AS BIGINT) % 50 AS bk,
               o_orderdate < DATE '1997-01-01' AS old
        FROM orders),
      sa AS (
        SELECT o_orderkey,
               md5(price::VARCHAR || '|' || o_orderstatus) AS fpa
        FROM b WHERE old),
      sb AS (
        SELECT o_orderkey,
               md5(CASE WHEN old AND bk = 1 THEN price + 1 ELSE price
                 END::VARCHAR || '|' || o_orderstatus) AS fpb
        FROM b
        WHERE o_orderdate < DATE '1998-01-01' AND NOT (old AND bk = 0)),
      d AS (
        SELECT coalesce(sa.o_orderkey, sb.o_orderkey) AS k,
               CASE WHEN fpa IS NULL THEN 'insert'
                    WHEN fpb IS NULL THEN 'delete'
                    WHEN fpa = fpb THEN 'unchanged'
                    ELSE 'update' END AS change
        FROM sa FULL OUTER JOIN sb ON sa.o_orderkey = sb.o_orderkey)
      SELECT change, count(*) AS n,
             CAST(sum(CAST(CAST(('0x' || substr(md5(k::VARCHAR), 1, 15))
               AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS key_checksum
      FROM d GROUP BY 1 ORDER BY 1""")
  )

  /** A23 capability: per-flag winsorized mean — clamp prices at the exact
    * p05/p95 order statistics (lower discrete quantile, the
    * ExactQuantiles rank convention `floor(q·(n−1))+1` computed in pure
    * integer arithmetic `(5·(n−1)) DIV 100 + 1`), then the exact decimal
    * mean of the clamped cents — the robust-mean preprocessing step of
    * every outlier-resistant metrics pipeline. Quantile selection is the
    * q_m13 histogram + prefix-sum shape (no global sort); everything up
    * to the final one-division mean is exact integers → bit-exact.
    */
  val qWinsor = QueryDef(
    "q_a23_winsor",
    (s, dir) => {
      // one fact scan → value histogram; quantile selection, clamped sums,
      // and counts all derive from the histogram (c-weighted), never a
      // second pass over rows — the q_m13 single-scan shape
      val src = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
      val h = src.groupBy("g", "v").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // selection pass + final agg, one scan
      val cum = graft.plans.SequenceOps.runningSum(
        h, Seq("g"), Seq("v"), "c", "cum")
      val tot = h.groupBy("g").agg(sum("c").as("n"))
      val sel = cum.join(broadcast(tot), "g")
        .withColumn("r05", expr("(5 * (n - 1)) DIV 100 + 1"))
        .withColumn("r95", expr("(95 * (n - 1)) DIV 100 + 1"))
        .groupBy("g")
        .agg(
          sum(when(col("cum") - col("c") < col("r05") &&
            col("r05") <= col("cum"), col("v")).otherwise(0L)).as("p05"),
          sum(when(col("cum") - col("c") < col("r95") &&
            col("r95") <= col("cum"), col("v")).otherwise(0L)).as("p95"))
      h.join(broadcast(sel), "g")
        .withColumn("w", least(greatest(col("v"), col("p05")), col("p95")))
        .groupBy("g", "p05", "p95")
        .agg(sum(col("c")).as("n"),
          sum(when(col("v") < col("p05") || col("v") > col("p95"),
            col("c")).otherwise(0L)).as("n_clamped"),
          (sum(col("w").cast("decimal(19,0)") * col("c")
            .cast("decimal(19,0)")).cast("double") /
            sum(col("c")).cast("double")).as("winsor_mean_cents"),
          (sum(col("v").cast("decimal(19,0)") * col("c")
            .cast("decimal(19,0)")).cast("double") /
            sum(col("c")).cast("double")).as("raw_mean_cents"))
        .select("g", "n", "p05", "p95", "n_clamped",
          "winsor_mean_cents", "raw_mean_cents")
        .orderBy("g")
    },
    Some("""
      WITH src AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        FROM lineitem),
      h AS (SELECT g, v, count(*) AS c FROM src GROUP BY 1, 2),
      cu AS (
        SELECT g, v, c,
               CAST(sum(c) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM h),
      sel AS (
        SELECT g,
               CAST(sum(CASE WHEN cum - c < (5 * (n - 1)) // 100 + 1
                 AND (5 * (n - 1)) // 100 + 1 <= cum THEN v ELSE 0 END)
                 AS BIGINT) AS p05,
               CAST(sum(CASE WHEN cum - c < (95 * (n - 1)) // 100 + 1
                 AND (95 * (n - 1)) // 100 + 1 <= cum THEN v ELSE 0 END)
                 AS BIGINT) AS p95
        FROM cu GROUP BY g)
      SELECT src.g, count(*) AS n, sel.p05, sel.p95,
             CAST(sum(CASE WHEN v < p05 OR v > p95 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clamped,
             CAST(sum(CAST(least(greatest(v, p05), p95) AS HUGEINT))
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS winsor_mean_cents,
             CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS raw_mean_cents
      FROM src JOIN sel ON sel.g = src.g
      GROUP BY src.g, sel.p05, sel.p95
      ORDER BY src.g""")
  )

  /** Referential-integrity audit over every FK edge of the star schema:
    * per edge, row count, null-FK count, and orphan count (left-anti
    * against the referenced key set) — the constraint check a warehouse
    * without enforced FKs must run itself. Each edge is ONE anti join
    * keyed on the FK (dimension sides broadcast; fact sides shuffle on
    * the key — the minimal plan, no row payload travels, keys only).
    * All-integer output, bit-exact.
    */
  val qFkAudit = QueryDef(
    "q_audit_fk",
    (s, dir) => {
      def edge(name: String, fact: org.apache.spark.sql.DataFrame,
          fk: String, dim: org.apache.spark.sql.DataFrame, pk: String) = {
        val keys = fact.select(col(fk))
        val orphans = keys.filter(col(fk).isNotNull)
          .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
        keys.agg(count(lit(1)).as("n_rows"),
          sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
          .select(lit(name).as("edge"), col("n_rows"), col("n_null_fk"),
            col("n_orphans"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      Seq(
        edge("customer.nation", c, "c_nationkey", n, "n_nationkey"),
        edge("lineitem.orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("nation.region", n, "n_regionkey", r, "r_regionkey"),
        edge("orders.customer", o, "o_custkey", c, "c_custkey"),
        edge("supplier.nation", su, "s_nationkey", n, "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy("edge")
    },
    Some("""
      SELECT * FROM (
        SELECT 'customer.nation' AS edge, count(*) AS n_rows,
               CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_null_fk,
               CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND n_nationkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM customer LEFT JOIN nation ON n_nationkey = c_nationkey
        UNION ALL
        SELECT 'lineitem.orders', count(*),
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem LEFT JOIN orders ON o_orderkey = l_orderkey
        UNION ALL
        SELECT 'lineitem.part', count(*),
               CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN l_partkey IS NOT NULL AND p_partkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem LEFT JOIN part ON p_partkey = l_partkey
        UNION ALL
        SELECT 'lineitem.supplier', count(*),
               CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem LEFT JOIN supplier ON s_suppkey = l_suppkey
        UNION ALL
        SELECT 'nation.region', count(*),
               CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN n_regionkey IS NOT NULL AND r_regionkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM nation LEFT JOIN region ON r_regionkey = n_regionkey
        UNION ALL
        SELECT 'orders.customer', count(*),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN o_custkey IS NOT NULL AND c_custkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders LEFT JOIN customer ON c_custkey = o_custkey
        UNION ALL
        SELECT 'supplier.nation', count(*),
               CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN s_nationkey IS NOT NULL AND n_nationkey
                 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM supplier LEFT JOIN nation ON n_nationkey = s_nationkey)
      ORDER BY edge"""))

  /** A24 capability: per-flag skewness and excess kurtosis from EXACT
    * integer power sums — the moments-sketch formulation (Σx, Σx², Σx³,
    * Σx⁴ over cents in DECIMAL(38,0): exact, order-independent, and
    * trivially MERGEABLE — the property that makes one partial-aggregate
    * pass sufficient at any scale, where a two-pass "subtract the mean
    * first" formulation would need a second scan). The central-moment
    * conversion composes in double from identical exact operands; both
    * statistics take r6. Spark's own skewness/kurtosis aggregates use
    * float central-moment updates (order-dependent) — this is the
    * deterministic exact path.
    */
  val qMoments = QueryDef(
    "q_a24_moments",
    (s, dir) => {
      val src = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
      // width contract: Σv⁴ must stay under 1e38 (DECIMAL(38)/HUGEINT) —
      // holds for price-magnitude cents (v ≤ 1e8 ⇒ v⁴ ≤ 1e32) up to 1e6
      // rows per group per 1e32, i.e. any realistic fact table
      val v1 = col("v").cast("decimal(19,0)")
      val agg = src.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(v1).cast("double").as("s1"),
        sum(v1 * v1).cast("double").as("s2"),
        sum((v1 * v1).cast("decimal(28,0)") * col("v").cast("decimal(9,0)"))
          .cast("double").as("s3"),
        sum((v1 * v1).cast("decimal(19,0)") * (v1 * v1)
          .cast("decimal(18,0)")).cast("double").as("s4"))
      val nd = col("n").cast("double")
      val m = col("s1") / nd
      val m2 = col("s2") / nd - m * m
      val m3 = col("s3") / nd - lit(3.0) * m * (col("s2") / nd) +
        lit(2.0) * m * m * m
      val m4 = col("s4") / nd - lit(4.0) * m * (col("s3") / nd) +
        lit(6.0) * m * m * (col("s2") / nd) - lit(3.0) * m * m * m * m
      agg.select(col("g"), col("n"),
        r6(m3 / sqrt(m2 * m2 * m2)).as("skewness"),
        r6(m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
        .orderBy("g")
    },
    Some(s"""
      WITH src AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        FROM lineitem),
      a AS (
        SELECT g, count(*) AS n,
               CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS s1,
               CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS s2,
               CAST(sum(CAST(v AS HUGEINT) * v * v) AS DOUBLE) AS s3,
               CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS DOUBLE) AS s4
        FROM src GROUP BY 1)
      SELECT g, n,
             ${sqlR6("""(s3 / CAST(n AS DOUBLE)
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                 + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)))
               / sqrt((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))""")}
               AS skewness,
             ${sqlR6("""(s4 / CAST(n AS DOUBLE)
                 - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                 + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s2 / CAST(n AS DOUBLE))
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
               / ((s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                 * (s2 / CAST(n AS DOUBLE)
                   - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))
               - 3.0""")} AS kurtosis
      FROM a ORDER BY g""")
  )

  /** Graph capability 3: degree assortativity of the customer–supplier
    * trade graph (Newman, "Assortative mixing in networks", 2002) — the
    * Pearson correlation of endpoint degrees over the directed edge list
    * (both directions included, which is exactly Newman's undirected
    * formulation). Answers "do high-degree hubs trade with other hubs or
    * with the periphery" — negative values (disassortative) are the
    * hub-and-spoke signature. Two key-keyed joins attach the broadcast
    * degree table to each endpoint; all five moments are exact
    * DECIMAL(38,0) integer sums in ONE partial-aggregatable pass, and r is
    * a fixed float expression over them → r6.
    */
  val qAssortativity = QueryDef(
    "q_g_assortativity",
    (s, dir) => {
      def s380(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,0)")).cast("double")
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val e0 = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("cust"),
          (col("l_suppkey") * 2 + 1).cast("long").as("supp"))
        .distinct()
      // three consumers (degree agg, node count, edge-moment join) — pay
      // the fact join + distinct once (graph.Hits/PageRank charter)
      val edges = e0.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(e0.select(col("supp").as("src"), col("cust").as("dst")))
        .localCheckpoint(true)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val nNodes = deg.select(count(lit(1)).as("n_nodes"))
      val ed = edges
        .join(broadcast(deg.select(col("src"), col("deg").as("dx"))), "src")
        .join(broadcast(deg.select(col("src").as("dst"),
          col("deg").as("dy"))), "dst")
      val m = ed.agg(
        count(lit(1)).as("n_edges"),
        s380(col("dx")).as("sx"), s380(col("dy")).as("sy"),
        s380(col("dx") * col("dx")).as("sxx"),
        s380(col("dy") * col("dy")).as("syy"),
        s380(col("dx") * col("dy")).as("sxy"))
      val n = col("n_edges").cast("double")
      m.crossJoin(broadcast(nNodes)).select(
        col("n_edges"), col("n_nodes"),
        r6((n * col("sxy") - col("sx") * col("sy")) /
          sqrt((n * col("sxx") - col("sx") * col("sx")) *
            (n * col("syy") - col("sy") * col("sy"))))
          .as("assortativity"))
    },
    Some(s"""
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      eall AS (
        SELECT cust AS src, supp AS dst FROM e0
        UNION ALL SELECT supp AS src, cust AS dst FROM e0),
      deg AS (SELECT src, count(*) AS deg FROM eall GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
      ed AS (
        SELECT dx.deg AS dx, dy.deg AS dy
        FROM eall e
        JOIN deg dx ON dx.src = e.src
        JOIN deg dy ON dy.src = e.dst),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(sum(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
               CAST(sum(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        FROM ed)
      SELECT n_edges, nn.n_nodes,
             ${sqlR6("""(CAST(n_edges AS DOUBLE) * sxy - sx * sy)
               / sqrt((CAST(n_edges AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n_edges AS DOUBLE) * syy - sy * sy))""")}
               AS assortativity
      FROM m CROSS JOIN nn""")
  )

  /** Cramér's V (1946) over the orderstatus × orderpriority contingency — the
    * effect-size companion q_a17's raw χ² terms lack (χ² grows with n;
    * V = √(χ²/(n·min(r−1,c−1))) is scale-free in [0,1], the figure a
    * data-drift dashboard actually thresholds). Observed/expected come
    * from exact integer marginals; the 15 per-cell terms are identical
    * doubles summed ORDER-INDEPENDENTLY via decimal(38,18) casts (the
    * sumE idiom — q_a17 sidesteps the cross-engine sum by emitting
    * per-cell rows, this query must total them), and r/c are count
    * distincts. One grouped count + three broadcast marginals.
    */
  val qCramersV = QueryDef(
    "q_m38_cramers_v",
    (s, dir) => {
      val li = t(s, dir, "orders")
      val obs = li.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("o_orderstatus").agg(sum(col("o")).as("rt"))
      val colT = obs.groupBy("o_orderpriority").agg(sum(col("o")).as("ct"))
      val tot = obs.agg(sum(col("o")).as("n"),
        count_distinct(col("o_orderstatus")).as("r"),
        count_distinct(col("o_orderpriority")).as("c"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val term = (col("o").cast("double") - e) *
        (col("o").cast("double") - e) / e
      obs.join(broadcast(rowT), "o_orderstatus")
        .join(broadcast(colT), "o_orderpriority")
        .crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n"), max(col("r")).as("n_rows"),
          max(col("c")).as("n_cols"),
          decD(sum(term.cast("decimal(38,18)"))).as("chi2"))
        .select(col("n"), col("n_rows"), col("n_cols"),
          r6(col("chi2")).as("chi2"),
          r6(sqrt(col("chi2") / (col("n").cast("double") *
            least(col("n_rows") - 1, col("n_cols") - 1).cast("double"))))
            .as("cramers_v"))
    },
    Some(s"""
      WITH obs AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS o
        FROM orders GROUP BY 1, 2),
      rt AS (SELECT o_orderstatus, CAST(sum(o) AS BIGINT) AS rt
             FROM obs GROUP BY 1),
      ct AS (SELECT o_orderpriority, CAST(sum(o) AS BIGINT) AS ct
             FROM obs GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS r,
                     CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS c
              FROM obs),
      cells AS (
        SELECT obs.o,
               CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS e,
               tot.n, tot.r, tot.c
        FROM obs JOIN rt USING (o_orderstatus)
        JOIN ct USING (o_orderpriority) CROSS JOIN tot),
      a AS (
        SELECT max(n) AS n, max(r) AS n_rows, max(c) AS n_cols,
               ${sqlDecD("""sum(CAST((CAST(o AS DOUBLE) - e)
                 * (CAST(o AS DOUBLE) - e) / e AS DECIMAL(38,18)))""")}
                 AS chi2
        FROM cells)
      SELECT n, n_rows, n_cols, ${sqlR6("chi2")} AS chi2,
             ${sqlR6("""sqrt(chi2 / (CAST(n AS DOUBLE)
               * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))""")}
               AS cramers_v
      FROM a""")
  )

  /** ORC source/sink round trip — the OTHER columnar format a warehouse
    * must ingest (Spark ships the ORC DataSource in-box; vectorized
    * reader, predicate pushdown and column pruning all apply exactly as
    * for parquet). Writes a lineitem projection as ORC, reads it back
    * with a year filter — the predicate reaches the ORC scan as
    * PushedFilters — and aggregates. Gated against the same aggregate
    * computed straight from the parquet base table in DuckDB, proving
    * the ORC round trip lossless (values AND row multiplicity). Exact
    * decimal sum → bit-exact.
    */
  val qOrcScan = QueryDef(
    "q_src_orc",
    (s, dir) => {
      Dirs.scratch("graft_orc") { stage =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_shipdate"),
            col("l_quantity"), col("l_extendedprice"))
          .write.mode("overwrite").orc(stage.toString)
        s.read.orc(stage.toString)
          // range predicate, not year(): a function of the column would
          // not reach the ORC reader — this pushes down as two
          // PushedFilters and skips whole stripes via min/max stats
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sumE(col("l_quantity")).as("sum_qty"),
            sumE(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlSumE("l_quantity")} AS sum_qty,
             ${sqlSumE("l_extendedprice")} AS sum_price
      FROM lineitem WHERE year(l_shipdate) = 1996
      GROUP BY 1 ORDER BY 1""")
  )

  /** PERMISSIVE corrupt-record handling — the malformed-row machinery a
    * 100 TB CSV ingest lives or dies by (S1's messy-CSV reader repairs
    * known damage; this gates Spark's GENERIC quarantine path).
    * Deterministic corpus: every order whose key ≡ 0 (mod 7) emits a
    * malformed price field; read back with an explicit schema +
    * PERMISSIVE + columnNameOfCorruptRecord, so bad rows parse their
    * good leading columns, null the bad one, and capture the raw line.
    * The oracle derives the same accounting from the parquet base table
    * and the mod-7 rule alone — if Spark quarantined one row too many
    * or too few, the hash breaks. Good-row prices round-trip text→double
    * exactly (shortest-round-trip printing), summed as exact decimals.
    */
  val qCsvCorrupt = QueryDef(
    "q_src_csv_corrupt",
    (s, dir) => {
      import org.apache.spark.sql.types._
      Dirs.scratch("graft_csv_corrupt") { stage =>
        t(s, dir, "orders")
          .select(when(pmod(col("o_orderkey"), lit(7)) === 0,
            concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
              lit("not_a_number")))
            .otherwise(concat_ws(",", col("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice")))
            .as("value"))
          .write.mode("overwrite").text(stage.toString)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("_corrupt", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(stage.toString)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            r2(sumE(coalesce(col("o_totalprice"), lit(0.0))))
              .as("sum_price_good"))
          .orderBy("o_orderstatus")
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT o_orderstatus, count(*) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_corrupt,
             ${sqlR2(sqlSumE(
        "CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE o_totalprice END"))}
               AS sum_price_good
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** Hive-style partitioned parquet round trip with partition PRUNING —
    * the layout decision that turns a 100 TB scan into a 1-year scan:
    * write lineitem partitioned by ship year, read it back filtered to
    * one year (the filter resolves against directory metadata —
    * `PartitionFilters` in the scan, zero data files of other years
    * touched, asserted in SourceFormatsSpec), aggregate the survivors.
    * Gated against the same aggregate computed from the UNPARTITIONED
    * base table, so the partitioned layout is proven lossless and the
    * pruned read complete. Exact decimal sum → bit-exact.
    */
  val qPartitionedScan = QueryDef(
    "q_src_partitioned",
    (s, dir) => {
      Dirs.scratch("graft_part") { stage =>
        t(s, dir, "lineitem")
          .withColumn("yr", year(col("l_shipdate")))
          .write.mode("overwrite").partitionBy("yr")
          .parquet(stage.toString)
        s.read.parquet(stage.toString)
          .filter(col("yr") === 1995)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sumE(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS n,
             ${sqlSumE("l_quantity")} AS sum_qty
      FROM lineitem WHERE year(l_shipdate) = 1995
      GROUP BY 1 ORDER BY 1""")
  )

  /** Graph capability 4: k-core decomposition (k = 3) of the trade graph
    * by iterative peeling — repeatedly delete nodes of degree < k until
    * the fixpoint; the standard dense-subgraph extraction (Seidman 1983)
    * behind community seeding and spam-cluster mining. Each round is one
    * degree aggregate + two semi joins, data MONOTONICALLY shrinking, the
    * loop state checkpointed so plans stay flat (the Lloyd-iteration
    * lifecycle). Peeling is fully deterministic, so running the SAME
    * bounded round count in both engines yields identical state whether or
    * not the fixpoint arrives early (converged rounds are no-ops — Spark
    * exits early on convergence, the oracle just runs all 16 unrolled CTE
    * rounds); the convergence flag in the output asserts the fixpoint WAS
    * reached. Exact integer output → bit-exact.
    */
  /** Label-propagation community detection (Raghavan et al. 2007, the
    * near-linear community algorithm; semi-synchronous variant) on the
    * BULK co-purchase customer⇄supplier graph (quantity ≥ `LpMinQty`
    * edges — the q_g_triangles thinning argument). Each of `LpIters`
    * SYNCHRONOUS rounds relabels every node with the modal label among
    * its neighbors (ties → smallest label, making the whole run
    * deterministic — classic async LPA is run-order-dependent and could
    * never be oracle-gated). Per round: one join (neighbor labels), one
    * count aggregate, one per-node top-1 window — all shuffles on node
    * id, state is one label per node; the GraphX/Graphframes LPA shape.
    * Output: the 20 largest communities. Exact integers end-to-end.
    */
  // LPA parameters + the shared edge/label computation — q_g_labelprop
  // (community sizes) and q_g_modularity (partition quality) must score
  // the IDENTICAL partition, so both build from this one helper.
  private val LpMinQty = 31
  private val LpIters = 2

  /** Bulk co-purchase graph + `LpIters` synchronous LPA rounds. Returns
    * (undirected edge set e0, directed arc list, final node→label map).
    */
  private def lpaState(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val li = t(s, dir, "lineitem").where(col("l_quantity") >= LpMinQty)
    val o = t(s, dir, "orders")
    val e0 = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("cust"),
        (col("l_suppkey") * 2 + 1).cast("long").as("supp"))
      .distinct()
    // materialize once: each LPA round joins the edge list, and the
    // initial-node distinct scans it too — without a checkpoint every
    // consumer re-runs the fact join + distinct (same fix as
    // graph.Hits/PageRank, −0.7 s at sf0.1)
    val edges = e0.select(col("cust").as("src"), col("supp").as("dst"))
      .unionByName(e0.select(col("supp").as("src"), col("cust").as("dst")))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node")).distinct()
    var lab = nodes.withColumn("lbl", col("node"))
    for (_ <- 1 to LpIters) {
      val nb = edges
        .join(lab.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("c").desc, col("lbl")))
      lab = nb.withColumn("rn", rn).where(col("rn") === 1)
        .select("node", "lbl")
    }
    (e0, edges, lab)
  }

  val qLabelProp =
    QueryDef(
      "q_g_labelprop",
      (s, dir) => {
        val (_, _, lab) = lpaState(s, dir)
        lab.groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("size"))
          .select(
            when(col("community") % 2 === 0, lit("customer"))
              .otherwise(lit("supplier")).as("seed_type"),
            expr("community div 2").as("seed_key"), col("size"))
          .orderBy(col("size").desc, col("seed_type"), col("seed_key"))
          .limit(20)
      },
      Some(s"""
        WITH $lpaOracleCtes
        SELECT CASE WHEN lbl % 2 = 0 THEN 'customer' ELSE 'supplier' END
                 AS seed_type,
               lbl // 2 AS seed_key, CAST(count(*) AS BIGINT) AS size
        FROM l$LpIters
        GROUP BY lbl
        ORDER BY size DESC, seed_type, seed_key LIMIT 20""")
    )

  /** Shared DuckDB replay of lpaState: edge construction + the unrolled
    * synchronous LPA rounds, ending at CTE `l$LpIters` (node, lbl).
    */
  private def lpaOracleCtes: String = {
    val iters = (1 to LpIters).map { k =>
      s"""n$k AS (
          SELECT e.src AS node, l.lbl, count(*) AS c
          FROM eall e JOIN l${k - 1} l ON l.node = e.dst GROUP BY 1, 2),
        l$k AS (
          SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER (
              PARTITION BY node ORDER BY c DESC, lbl) AS rn
            FROM n$k) WHERE rn = 1)"""
    }.mkString(",\n        ")
    s"""e0 AS (
          SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity >= $LpMinQty),
        eall AS (
          SELECT cust AS src, supp AS dst FROM e0
          UNION ALL SELECT supp AS src, cust AS dst FROM e0),
        l0 AS (
          SELECT DISTINCT src AS node, src AS lbl FROM eall),
        $iters"""
  }

  /** Modularity of the LPA partition (Newman–Girvan Q) — the quality
    * score community detection is judged by, and the natural companion
    * gate: q_g_labelprop proves the partition, this proves its score.
    * Q = intra/(2m) − Σ_c (d_c/2m)² computed as the EXACT INTEGER
    * numerator 2m·intra − Σ d_c² over one degree aggregate, one
    * label-equality arc join, and one per-community degree sum — every
    * shuffle on node/community id; the single final division composes in
    * double from identical operands. Bit-exact, no rounding.
    */
  val qModularity = QueryDef(
    "q_g_modularity",
    (s, dir) => {
      val (e0, edges, lab) = lpaState(s, dir)
      val m = e0.agg(count(lit(1)).as("m"))
      val nNodes = lab.agg(count(lit(1)).as("n_nodes"),
        count_distinct(col("lbl")).as("n_comm"))
      val intra = edges
        .join(lab.withColumnRenamed("node", "src")
          .withColumnRenamed("lbl", "sl"), Seq("src"))
        .join(lab.withColumnRenamed("node", "dst")
          .withColumnRenamed("lbl", "dl"), Seq("dst"))
        .filter(col("sl") === col("dl"))
        .agg(count(lit(1)).as("intra_arcs"))
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val sd2 = lab.join(deg, Seq("node"))
        .groupBy("lbl").agg(sum(col("d")).as("dc"))
        .agg(sum((col("dc") * col("dc")).cast("decimal(38,0)")).as("sd2"))
      nNodes.crossJoin(broadcast(m)).crossJoin(broadcast(intra))
        .crossJoin(broadcast(sd2))
        .select(col("n_nodes"), col("m").as("n_edges"), col("n_comm"),
          col("intra_arcs"),
          // numerator stays in DECIMAL(38,0): 2m·intra in long wraps
          // silently at ~1e12 edges under Spark's non-ANSI arithmetic
          // while DuckDB's BIGINT errors — exact decimal subtract first,
          // one cast to double at the end (identical in both engines for
          // |v| < 2^53; the value is a count difference, far below that
          // at any gate SF)
          ((col("m").cast("decimal(38,0)") * col("intra_arcs") * lit(2)
            - col("sd2")).cast("double")
            / (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
            .as("modularity"))
    },
    Some(s"""
      WITH $lpaOracleCtes,
      mm AS (SELECT count(*) AS m FROM e0),
      nn AS (SELECT count(*) AS n_nodes, count(DISTINCT lbl) AS n_comm
             FROM l$LpIters),
      ia AS (SELECT count(*) AS intra_arcs
             FROM eall e
             JOIN l$LpIters a ON a.node = e.src
             JOIN l$LpIters b ON b.node = e.dst
             WHERE a.lbl = b.lbl),
      deg AS (SELECT src AS node, count(*) AS d FROM eall GROUP BY 1),
      dc AS (SELECT l.lbl, CAST(sum(d.d) AS BIGINT) AS dc
             FROM l$LpIters l JOIN deg d ON d.node = l.node GROUP BY 1),
      s2 AS (SELECT CAST(sum(CAST(dc * dc AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS sd2 FROM dc)
      SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(m AS BIGINT)
               AS n_edges,
             CAST(n_comm AS BIGINT) AS n_comm,
             CAST(intra_arcs AS BIGINT) AS intra_arcs,
             CAST(CAST(m AS DECIMAL(38,0)) * intra_arcs * 2 - sd2 AS DOUBLE)
               / (4e0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
               AS modularity
      FROM nn CROSS JOIN mm CROSS JOIN ia CROSS JOIN s2""")
  )

  val qKcore = QueryDef(
    "q_g_kcore",
    (s, dir) => {
      val K = 3
      val Rounds = 16
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val e0 = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("cust"),
          (col("l_suppkey") * 2 + 1).cast("long").as("supp"))
        .distinct()
      var edges = e0.select(col("cust").as("src"), col("supp").as("dst"))
        .unionByName(e0.select(col("supp").as("src"), col("cust").as("dst")))
        .localCheckpoint()
      var n = edges.count()
      var converged = false
      var i = 0
      while (i < Rounds && !converged) {
        val keep = edges.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= K).select("src")
        val next = edges
          .join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst")
          .localCheckpoint()
        val m = next.count()
        converged = m == n
        edges = next
        n = m
        i += 1
      }
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      deg
        .select(
          when(col("src") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          col("d"))
        .groupBy("node_type")
        .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("n_edges_dir"),
          min(col("d")).as("min_degree"))
        .withColumn("converged", lit(if (converged) 1L else 0L))
        .orderBy("node_type")
    },
    Some {
      val K = 3
      // MATERIALIZED is load-bearing: each round references the previous
      // round's edge CTE three times (directly + through the degree
      // filter twice); default CTE inlining would expand e0 3^16 times
      // and exhaust file descriptors on the parquet scan
      val rounds = (0 until 16).map { i =>
        s"""k$i AS MATERIALIZED (
        SELECT src FROM (SELECT src, count(*) AS d FROM e$i GROUP BY 1)
        WHERE d >= $K),
      e${i + 1} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e$i e
        JOIN k$i a ON a.src = e.src JOIN k$i b ON b.src = e.dst)"""
      }.mkString(",\n      ")
      s"""
      WITH e0raw AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      e0 AS MATERIALIZED (
        SELECT cust AS src, supp AS dst FROM e0raw
        UNION ALL SELECT supp AS src, cust AS dst FROM e0raw),
      $rounds,
      fin AS MATERIALIZED (SELECT src, count(*) AS d FROM e16 GROUP BY 1),
      conv AS (
        SELECT CASE WHEN (SELECT count(*) FROM e15)
                       = (SELECT count(*) FROM e16)
                    THEN 1 ELSE 0 END AS converged)
      SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
             count(*) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS n_edges_dir,
             CAST(min(d) AS BIGINT) AS min_degree,
             CAST(conv.converged AS BIGINT) AS converged
      FROM fin CROSS JOIN conv
      GROUP BY 1, conv.converged ORDER BY 1"""
    }
  )

  /** Point-in-time (AS OF) reconstruction over the SCD2 history — the
    * time-travel read that justifies keeping SCD2 history at all: the
    * snapshot at T is the rows with valid_from ≤ T < coalesce(valid_to, ∞),
    * exactly one per key. Reads the same merged history as q_scd2_merge
    * and emits each key's balance AS OF T=50 (before the change batch —
    * original values everywhere) and AS OF T=150 (after — changed values
    * exactly on the %7 keys), side by side via one self-join on the key.
    * Selected values only → bit-exact.
    */
  val qScd2AsOf = QueryDef(
    "q_scd2_asof",
    (s, dir) => {
      val dim0 = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val changes = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"))
      val hist = graft.etl.Scd2
        .applyChanges(dim0, changes, Seq("c_custkey"), ts = 100L)
      def asOf(t0: Long) = hist
        .filter(col("valid_from") <= t0 &&
          (col("valid_to").isNull || col("valid_to") > t0))
        .select(col("c_custkey"), col("c_acctbal"))
      asOf(50L).withColumnRenamed("c_acctbal", "bal_at_50")
        .join(asOf(150L).withColumnRenamed("c_acctbal", "bal_at_150"),
          "c_custkey")
        .orderBy("c_custkey")
    },
    Some("""
      WITH dim0 AS (
        SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to
        FROM customer),
      changes AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0),
      hist AS (
        SELECT d.c_custkey, d.c_acctbal, d.valid_from,
               CASE WHEN ch.c_custkey IS NOT NULL THEN CAST(100 AS BIGINT)
                    ELSE NULL END AS valid_to
        FROM dim0 d LEFT JOIN changes ch ON d.c_custkey = ch.c_custkey
        UNION ALL
        SELECT c_custkey, c_acctbal, CAST(100 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to
        FROM changes)
      SELECT a.c_custkey, a.c_acctbal AS bal_at_50,
             b.c_acctbal AS bal_at_150
      FROM (SELECT c_custkey, c_acctbal FROM hist
            WHERE valid_from <= 50 AND (valid_to IS NULL OR valid_to > 50))
        a
      JOIN (SELECT c_custkey, c_acctbal FROM hist
            WHERE valid_from <= 150 AND (valid_to IS NULL OR valid_to > 150))
        b ON a.c_custkey = b.c_custkey
      ORDER BY a.c_custkey""")
  )

  /** HITS hubs & authorities (graph.Hits: Kleinberg 1999, exact-integer
    * max-normalized half-steps) over the directed bulk-purchase graph
    * customer→supplier (quantity ≥ 31, the same support filter as
    * q_g_triangles/q_m22_adamic): customers score as hubs (broad bulk
    * buyers), suppliers as authorities (widely-bought sellers). Two full
    * rounds, every half-step an integer edge-sum + `(raw·10⁶) div max`
    * normalization — bit-exact in any engine; the oracle replays all four
    * half-steps as chained CTEs. Output: top 10 per side under a total
    * order.
    */
  val qHits = {
    val K = 2
    val S = 1000000L
    val iterCtes = (1 to K).map { k =>
      s"""a${k}r AS (
        SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
        FROM e0 e JOIN h${k - 1} h ON h.node = e.src GROUP BY 1),
      a$k AS (
        SELECT node, (raw * $S) // (SELECT max(raw) FROM a${k}r) AS score
        FROM a${k}r),
      h${k}r AS (
        SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
        FROM e0 e JOIN a$k a ON a.node = e.dst GROUP BY 1),
      h$k AS (
        SELECT node, (raw * $S) // (SELECT max(raw) FROM h${k}r) AS score
        FROM h${k}r)"""
    }.mkString(",\n      ")
    QueryDef(
      "q_g_hits",
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_quantity") >= 31)
        val o = t(s, dir, "orders")
        val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
          .distinct()
        val scored = graft.graph.Hits.run(edges, iterations = K, scale = S)
        val topA = scored.where(col("side") === "a")
          .orderBy(col("score").desc, col("node")).limit(10)
          .select(lit("supplier").as("node_type"),
            col("node").as("node_key"), col("score"))
        val topH = scored.where(col("side") === "h")
          .orderBy(col("score").desc, col("node")).limit(10)
          .select(lit("customer").as("node_type"),
            col("node").as("node_key"), col("score"))
        topH.unionByName(topA)
          .orderBy(col("node_type"), col("score").desc, col("node_key"))
      },
      Some(s"""
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_quantity >= 31),
      h0 AS (SELECT DISTINCT src AS node, $S AS score FROM e0),
      $iterCtes
      SELECT * FROM (
        (SELECT 'customer' AS node_type, node AS node_key, score
         FROM h$K ORDER BY score DESC, node LIMIT 10)
        UNION ALL
        (SELECT 'supplier' AS node_type, node AS node_key, score
         FROM a$K ORDER BY score DESC, node LIMIT 10))
      ORDER BY node_type, score DESC, node_key""")
    )
  }

  /** Expectation-suite audit (the Great-Expectations/dbt-test shape): a
    * fixed contract of row-level expectations over the fact table —
    * range, positivity, domain, not-null — evaluated as ONE full scan of
    * sum(CASE) counters (map-side combined, no shuffle beyond the 1-row
    * aggregate), plus the primary-key-uniqueness expectation as one
    * distinct-count aggregate. Output is the per-expectation violation
    * ledger a data-contract gate consumes. All integer → exact. At
    * 100 TB this is the cheapest possible shape: one pass for all scalar
    * expectations, one keyed aggregate for uniqueness.
    */
  val qExpectations = QueryDef(
    "q_p_expectations",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def viol(name: String, bad: org.apache.spark.sql.Column) =
        li.agg(count(lit(1)).as("n_rows"),
            sum(when(bad, 1L).otherwise(0L)).as("n_violations"))
          .select(lit(name).as("expectation"), col("n_rows"),
            col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
      val scalar = Seq(
        viol("quantity_in_1_50",
          col("l_quantity") < 1 || col("l_quantity") > 50 ||
            col("l_quantity").isNull),
        viol("price_positive",
          col("l_extendedprice") <= 0 || col("l_extendedprice").isNull),
        viol("discount_in_0_01",
          col("l_discount") < 0 || col("l_discount") > 0.1 ||
            col("l_discount").isNull),
        viol("shipdate_not_null", col("l_shipdate").isNull))
      val pk = li.agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) -
            count_distinct(struct(col("l_orderkey"), col("l_linenumber"))))
            .as("n_violations"))
        .select(lit("pk_orderkey_linenumber_unique").as("expectation"),
          col("n_rows"), col("n_violations"),
          (col("n_violations") === 0L).as("pass"))
      (scalar :+ pk).reduce(_ unionByName _).orderBy("expectation")
    },
    Some("""
      SELECT 'quantity_in_1_50' AS expectation,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                 OR l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
             sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                 OR l_quantity IS NULL THEN 1 ELSE 0 END) = 0 AS pass
      FROM lineitem
      UNION ALL
      SELECT 'price_positive', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_extendedprice <= 0
                 OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN l_extendedprice <= 0 OR l_extendedprice IS NULL
                 THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'discount_in_0_01', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                 OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                 OR l_discount IS NULL THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'shipdate_not_null', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'pk_orderkey_linenumber_unique', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
               AS BIGINT),
             count(*) = count(DISTINCT (l_orderkey, l_linenumber))
      FROM lineitem
      ORDER BY expectation""")
  )

  /** Degree distribution of the bulk-purchase graph (customers per
    * supplier, the q_g_hits edge set) in power-of-two buckets — the
    * power-law readout that pairs with q_t_zipf's corpus slope (both are
    * the first structural health checks on a new graph/corpus). The
    * bucket is the integer log2 via BINARY-STRING LENGTH
    * (length(bin(deg))−1) — exact integer in both engines, no
    * ln(x)/ln(2) boundary risk at powers of two. One aggregate over the
    * degree table; output is ≤64 rows.
    */
  val qDegreeDist = QueryDef(
    "q_g_degree_dist",
    (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 31)
      val o = t(s, dir, "orders")
      val deg = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .groupBy("supp").agg(count(lit(1)).as("deg"))
      deg
        .withColumn("bucket", (length(bin(col("deg"))) - 1).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_suppliers"), sum("deg").as("sum_deg"),
          min("deg").as("min_deg"), max("deg").as("max_deg"))
        .withColumn("bucket_lo", expr("CAST(1 AS BIGINT) << bucket"))
        .select("bucket", "bucket_lo", "n_suppliers", "sum_deg",
          "min_deg", "max_deg")
        .orderBy("bucket")
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_quantity >= 31),
      deg AS (SELECT supp, count(*) AS deg FROM e0 GROUP BY 1),
      b AS (
        SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket, deg
        FROM deg)
      SELECT bucket, CAST(1 << bucket AS BIGINT) AS bucket_lo,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(deg) AS BIGINT) AS sum_deg,
             CAST(min(deg) AS BIGINT) AS min_deg,
             CAST(max(deg) AS BIGINT) AS max_deg
      FROM b GROUP BY 1 ORDER BY 1""")
  )

  /** SKYLINE / Pareto frontier (Börzsönyi et al., "The Skyline
    * Operator", ICDE 2001) — the multi-criteria shortlist every
    * recommender/curation pipeline computes (here: orders maximizing
    * BOTH price and quantity per flag, neither dominated by another).
    * The scale-safe plan: collapse to max-q per distinct price (one
    * aggregation), then ONE descending-price window scan keeps the
    * points whose q beats the running max over all strictly-higher
    * prices — O(n log n) via range-partitioned sort, never the naive
    * all-pairs dominance join. Exact column values from the scan, no
    * arithmetic at all — hash-exact by construction.
    */
  val qSkyline = QueryDef(
    "q_skyline",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
        .agg(max(col("l_quantity")).as("qty"),
          count(lit(1)).as("n_at_price"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("price").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      agg
        .withColumn("mq", max(col("qty")).over(w))
        .filter(col("mq").isNull || col("qty") > col("mq"))
        .select(col("l_returnflag"), col("price"), col("qty"),
          col("n_at_price"))
        .orderBy(col("l_returnflag"), col("price"))
    },
    Some("""
      WITH agg AS (
        SELECT l_returnflag, l_extendedprice AS price,
               max(l_quantity) AS qty,
               CAST(count(*) AS BIGINT) AS n_at_price
        FROM lineitem GROUP BY 1, 2),
      sc AS (
        SELECT l_returnflag, price, qty, n_at_price,
               max(qty) OVER (PARTITION BY l_returnflag ORDER BY price DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mq
        FROM agg)
      SELECT l_returnflag, price, qty, n_at_price
      FROM sc WHERE mq IS NULL OR qty > mq
      ORDER BY l_returnflag, price""")
  )

  /** Population Stability Index — THE drift metric an ML-monitoring
    * pipeline computes between a reference window and a live window
    * (PSI = Σ (p_a − p_e)·ln(p_a/p_e); <0.1 stable, >0.25 action). Here:
    * 1997 orders as expected vs 1998 as actual, per priority, over a
    * FIXED 12-bin price grid with +0.5 Laplace smoothing so empty bins
    * are defined and deterministic. Per-bin ln terms are decimal-summed
    * (order-independent, the q_a21_entropy idiom); the bin grid is a
    * bounded generated dimension, so the whole query is two count
    * shuffles + a broadcast grid join.
    */
  val qPsi = {
    val B = 12
    QueryDef(
      "q_a28_psi",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .filter(col("yr").isin(1997, 1998))
          .select(col("o_orderpriority").as("prio"), col("yr"),
            least(floor(col("o_totalprice") / lit(50000.0)),
              lit((B - 1).toLong)).as("bin"))
        val cnt = o.groupBy("prio", "yr", "bin").agg(count(lit(1)).as("c"))
        val grid = o.select("prio").distinct()
          .crossJoin(broadcast(s.range(B).select(col("id").as("bin"))))
          .crossJoin(broadcast(s.range(1997, 1999)
            .select(col("id").cast("int").as("yr"))))
        val full = grid.join(cnt, Seq("prio", "yr", "bin"), "left")
          .select(col("prio"), col("yr"), col("bin"),
            coalesce(col("c"), lit(0L)).as("c"))
        val tot = full.groupBy("prio", "yr").agg(sum(col("c")).as("n"))
        val p = full.join(broadcast(tot), Seq("prio", "yr"))
          .select(col("prio"), col("yr"), col("bin"), col("c"), col("n"),
            ((col("c").cast("double") + lit(0.5)) /
              (col("n").cast("double") + lit(0.5 * B))).as("p"))
        val e = p.filter(col("yr") === 1997)
          .select(col("prio"), col("bin"), col("p").as("pe"),
            col("n").as("n_exp"))
        val a = p.filter(col("yr") === 1998)
          .select(col("prio"), col("bin"), col("p").as("pa"),
            col("n").as("n_act"))
        e.join(a, Seq("prio", "bin"))
          .select(col("prio"), col("n_exp"), col("n_act"),
            ((col("pa") - col("pe")) * log(col("pa") / col("pe")))
              .as("term"))
          .groupBy("prio")
          .agg(max(col("n_exp")).as("n_exp"), max(col("n_act")).as("n_act"),
            r6(sum(col("term").cast("decimal(38,18)")).cast("double"))
              .as("psi"))
          .orderBy("prio")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
                 CAST(least(floor(o_totalprice / 50000e0), ${B - 1}e0)
                   AS BIGINT) AS bin
          FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
        cnt AS (SELECT prio, yr, bin, count(*) AS c FROM o GROUP BY 1, 2, 3),
        grid AS (
          SELECT prio, yr, bin
          FROM (SELECT DISTINCT prio FROM o),
               (SELECT CAST(unnest(range($B)) AS BIGINT) AS bin),
               (SELECT CAST(unnest([1997, 1998]) AS INTEGER) AS yr)),
        full_ AS (
          SELECT g.prio, g.yr, g.bin, coalesce(c, 0) AS c
          FROM grid g LEFT JOIN cnt USING (prio, yr, bin)),
        tot AS (SELECT prio, yr, CAST(sum(c) AS BIGINT) AS n
                FROM full_ GROUP BY 1, 2),
        p AS (
          SELECT f.prio, f.yr, f.bin, f.c, t.n,
                 (CAST(f.c AS DOUBLE) + 0.5e0)
                   / (CAST(t.n AS DOUBLE) + ${sqlD(0.5 * B)}) AS p
          FROM full_ f JOIN tot t USING (prio, yr)),
        j AS (
          SELECT e.prio, e.n AS n_exp, a.n AS n_act,
                 (a.p - e.p) * ln(a.p / e.p) AS term
          FROM (SELECT * FROM p WHERE yr = 1997) e
          JOIN (SELECT * FROM p WHERE yr = 1998) a
            ON e.prio = a.prio AND e.bin = a.bin)
        SELECT prio, max(n_exp) AS n_exp, max(n_act) AS n_act,
               ${sqlR6("CAST(sum(CAST(term AS DECIMAL(38,18))) AS DOUBLE)")}
                 AS psi
        FROM j GROUP BY 1 ORDER BY 1""")
    )
  }

  /** UNPIVOT / melt — the inverse of the A1/A3 pivots and the one
    * reshaping direction the catalog lacked: a wide per-flag aggregate
    * (three exact-decimal measures) melted to long (flag, measure, value)
    * form with Spark's native `Dataset.unpivot` (ANSI UNPIVOT semantics;
    * Catalyst `Expand` — one pass, no shuffle beyond the feeding agg).
    * The oracle spells the same reshape as a measure-per-branch UNION ALL,
    * which is definitionally UNPIVOT. Values are r2-rounded sumE sums, so
    * both engines melt identical doubles.
    */
  val qUnpivot = QueryDef(
    "q_unpivot",
    (s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(r2(sumE(col("l_quantity"))).as("sum_qty"),
          r2(sumE(col("l_extendedprice"))).as("sum_price"),
          r2(sumE(col("l_discount"))).as("sum_disc"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    },
    Some(s"""
      WITH w AS (
        SELECT l_returnflag,
               ${sqlR2(sqlSumE("l_quantity"))} AS sum_qty,
               ${sqlR2(sqlSumE("l_extendedprice"))} AS sum_price,
               ${sqlR2(sqlSumE("l_discount"))} AS sum_disc
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS measure, sum_price FROM w
        UNION ALL
        SELECT l_returnflag, 'sum_disc' AS measure, sum_disc FROM w)
      ORDER BY l_returnflag, measure""")
  )

  /** k-anonymity audit — the privacy gate a training-data release runs
    * before shipping: group by the quasi-identifier tuple (nation,
    * market segment, account-balance bucket) and count cells below the
    * k=5 re-identification floor, at two generalization levels of the
    * balance bucket (100 vs 1000) so the generalization ladder's effect
    * is measurable in one result. Pure two-level aggregation — one
    * shuffle per level, exact integer counts; bucket = floor(bal/g)·g is
    * the identical IEEE op sequence in both engines.
    */
  val qKanon = QueryDef(
    "q_p_kanon",
    (s, dir) => {
      val c = t(s, dir, "customer")
      def level(bucket: Int) = c
        .select(col("c_nationkey"), col("c_mktsegment"),
          (floor(col("c_acctbal") / lit(bucket.toDouble)).cast("long")
            * lit(bucket.toLong)).as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_unsafe_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L))
            .as("n_unsafe_rows"),
          sum(col("n")).as("n_rows"))
        .select(lit(bucket.toLong).as("bal_granularity"), col("n_rows"),
          col("n_groups"), col("n_unsafe_groups"), col("n_unsafe_rows"),
          r6(col("n_unsafe_rows").cast("double")
            / col("n_rows").cast("double")).as("pct_unsafe"))
      level(100).unionByName(level(1000)).orderBy("bal_granularity")
    },
    Some(s"""
      WITH g AS (
        SELECT 100 AS bal_granularity, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 100e0) AS BIGINT) * 100 AS bal_bucket,
               count(*) AS n
        FROM customer GROUP BY 2, 3, 4
        UNION ALL
        SELECT 1000, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000e0) AS BIGINT) * 1000,
               count(*)
        FROM customer GROUP BY 2, 3, 4)
      SELECT CAST(bal_granularity AS BIGINT) AS bal_granularity,
             CAST(sum(n) AS BIGINT) AS n_rows,
             count(*) AS n_groups,
             CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unsafe_groups,
             CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS n_unsafe_rows,
             ${sqlR6("""CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
               AS DOUBLE) / CAST(sum(n) AS DOUBLE)""")} AS pct_unsafe
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** Parquet schema-evolution read (mergeSchema) — a 100 TB lake always
    * holds files written under several schema versions; this gates
    * Spark's footer-merging union-schema read. Two staged file sets share
    * only the key column (one adds price, the other priority); the
    * merged read must surface the union schema with NULLs where a file
    * lacks a column. The oracle derives the same accounting from the
    * base table and the key-parity rule alone — a row mis-NULLed either
    * way breaks the exact counts/decimal sum.
    */
  val qMergeSchema = QueryDef(
    "q_src_merge_schema",
    (s, dir) => {
      Dirs.scratch("graft_merge") { stage =>
        val o = t(s, dir, "orders")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(stage.toString + "/v1")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(stage.toString + "/v2")
        s.read.option("mergeSchema", "true")
          .parquet(stage.toString + "/v1", stage.toString + "/v2")
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_totalprice")).as("n_price"),
            count(col("o_orderpriority")).as("n_priority"),
            r2(sumE(coalesce(col("o_totalprice"), lit(0.0))))
              .as("sum_price"))
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_price,
             CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_priority,
             ${sqlR2(sqlSumE(
        "CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE 0 END"))}
               AS sum_price
      FROM orders""")
  )

  /** JSON-lines source round trip — the interchange format every ingest
    * edge speaks. Writes an orders projection as JSONL, reads it back
    * with an EXPLICIT schema (no sampling-based inference — at 100 TB
    * schema inference is a full extra pass), and aggregates. Doubles
    * survive the text round trip exactly (Spark prints shortest
    * round-trip decimals; string→double parsing is correctly rounded),
    * so the decimal sum gates value fidelity, not just row counts.
    */
  val qJsonl = QueryDef(
    "q_src_jsonl",
    (s, dir) => {
      import org.apache.spark.sql.types._
      Dirs.scratch("graft_jsonl") { stage =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .write.mode("overwrite").json(stage.toString)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType)))
        s.read.schema(schema).json(stage.toString)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            r2(sumE(col("o_totalprice"))).as("sum_price"))
          .orderBy("o_orderstatus")
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT o_orderstatus, count(*) AS n,
             ${sqlR2(sqlSumE("o_totalprice"))} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** Gzip-compressed CSV round trip — compressed text is the most common
    * raw-landing format a lake ingests (and gzip is NOT splittable: one
    * file = one task, which is why the write shards first — documented
    * here because at 100 TB the sharding IS the parallelism). Values
    * re-parse exactly (shortest-round-trip printing), gated by exact
    * counts + decimal sum per status.
    */
  val qCsvGzip = QueryDef(
    "q_src_csv_gzip",
    (s, dir) => {
      import org.apache.spark.sql.types._
      Dirs.scratch("graft_csvgz") { stage =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .repartition(8) // gzip is unsplittable: shard BEFORE compressing
          .write.mode("overwrite").option("codec", "gzip")
          .option("header", "true").csv(stage.toString)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType)))
        s.read.schema(schema).option("header", "true").csv(stage.toString)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            r2(sumE(col("o_totalprice"))).as("sum_price"))
          .orderBy("o_orderstatus")
          .localCheckpoint() // materialize before the staged dir is deleted
      }
    },
    Some(s"""
      SELECT o_orderstatus, count(*) AS n,
             ${sqlR2(sqlSumE("o_totalprice"))} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** Hierarchy flattening (BFS level assignment) — the recursive-CTE
    * workload Spark has no native construct for (org charts, BOM
    * explosion, referral trees): a synthetic irregular tree over customer
    * keys (parent = c/2 for even c, max(c/3, 1) for odd — every chain
    * strictly decreases to root 1) is walked breadth-first, one
    * frontier-join per level, state localCheckpointed per round (the
    * PageRank/k-core loop lifecycle — plans stay flat, each round is ONE
    * key-partitioned join). The loop exits when the frontier empties and
    * ASSERTS full coverage, so a dropped subtree fails loudly rather
    * than truncating. The oracle is DuckDB's native WITH RECURSIVE —
    * engine iteration vs declarative recursion, same exact integers.
    */
  val qTreeDepth = QueryDef(
    "q_g_treedepth",
    (s, dir) => {
      val nodes = t(s, dir, "customer")
        .select((col("c_custkey").cast("long") + 1L).as("c")) // keys 1-based
        .localCheckpoint(false)
      val edges = nodes.filter(col("c") > 1)
        .withColumn("p", expr(
          "CASE WHEN c % 2 = 0 THEN c div 2 ELSE greatest(c div 3, 1) END"))
        .localCheckpoint(false)
      var levels = nodes.filter(col("c") === 1).withColumn("d", lit(0L))
        .localCheckpoint(false)
      var frontier = levels
      var round = 0
      while (round < 64 && !frontier.isEmpty) {
        frontier = edges
          .join(frontier.select(col("c").as("p"), col("d")), Seq("p"))
          .select(col("c"), (col("d") + 1L).as("d"))
          .localCheckpoint(false)
        levels = levels.unionByName(frontier).localCheckpoint(false)
        round += 1
      }
      val nNodes = nodes.count()
      val nAssigned = levels.count()
      require(nAssigned == nNodes,
        s"BFS covered $nAssigned of $nNodes nodes — dropped subtree")
      levels.groupBy(col("d").as("depth"))
        .agg(count(lit(1)).as("n_nodes"), min(col("c")).as("min_key"),
          max(col("c")).as("max_key"), sum(col("c")).as("sum_keys"))
        .orderBy("depth")
    },
    Some(s"""
      WITH RECURSIVE n AS (
        SELECT CAST(c_custkey + 1 AS BIGINT) AS c FROM customer),
      e AS (
        SELECT c,
               CASE WHEN c % 2 = 0 THEN c // 2
                    ELSE greatest(c // 3, 1) END AS p
        FROM n WHERE c > 1),
      walk(c, d) AS (
        SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT e.c, walk.d + 1 FROM e JOIN walk ON e.p = walk.c)
      SELECT d AS depth, count(*) AS n_nodes, min(c) AS min_key,
             max(c) AS max_key, CAST(sum(c) AS BIGINT) AS sum_keys
      FROM walk GROUP BY 1 ORDER BY 1""")
  )

  /** Per-group five-number summary (boxplot feed) — min/Q1/median/Q3/max
    * per returnflag via EXACT order-statistic selection over the value
    * histogram: one groupBy builds (flag, cents) counts, one
    * range-partitioned prefix sum (SequenceOps, grouped by flag) gives
    * cumulative positions, and each quartile is the Σ v·indicator
    * selection (the medianMad idiom) at type-1 ranks ⌈p·n⌉ — no global
    * sort, no approximate percentile. All integers → bit-exact.
    */
  val qBoxplot = QueryDef(
    "q_a29_boxplot",
    (s, dir) => {
      import graft.plans.SequenceOps
      val h = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .groupBy("flag", "cents")
        .agg(count(lit(1)).as("n"))
      val cum = SequenceOps.runningSum(h, Seq("flag"), Seq("cents"),
        "n", "cum")
      val tot = h.groupBy("flag")
        .agg(sum(col("n")).as("nt"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
      def sel(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(col("cents") * when(col("cum") - col("n") < r && r <= col("cum"),
          1L).otherwise(0L))
      cum.join(broadcast(tot), Seq("flag"))
        .withColumn("r1", expr("(nt + 3) div 4"))
        .withColumn("rm", expr("(nt + 1) div 2"))
        .withColumn("r3", expr("(3 * nt + 3) div 4"))
        .groupBy(col("flag"), col("nt").as("n"), col("min_cents"),
          col("max_cents"))
        .agg(sel(col("r1")).as("q1_cents"), sel(col("rm")).as("med_cents"),
          sel(col("r3")).as("q3_cents"))
        .select(col("flag"), col("n"), col("min_cents"), col("q1_cents"),
          col("med_cents"), col("q3_cents"), col("max_cents"))
        .orderBy("flag")
    },
    Some(s"""
      WITH src AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem),
      h AS (SELECT flag, cents, count(*) AS n FROM src GROUP BY 1, 2),
      c AS (
        SELECT flag, cents, n,
               CAST(sum(n) OVER (PARTITION BY flag ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM h),
      tot AS (
        SELECT flag, CAST(sum(n) AS BIGINT) AS nt,
               min(cents) AS min_cents, max(cents) AS max_cents
        FROM h GROUP BY 1),
      j AS (
        SELECT c.flag, c.cents, c.n, c.cum, tot.nt, tot.min_cents,
               tot.max_cents,
               (tot.nt + 3) // 4 AS r1, (tot.nt + 1) // 2 AS rm,
               (3 * tot.nt + 3) // 4 AS r3
        FROM c JOIN tot ON tot.flag = c.flag)
      SELECT flag, nt AS n, min_cents,
             CAST(sum(cents * CASE WHEN cum - n < r1 AND r1 <= cum
               THEN 1 ELSE 0 END) AS BIGINT) AS q1_cents,
             CAST(sum(cents * CASE WHEN cum - n < rm AND rm <= cum
               THEN 1 ELSE 0 END) AS BIGINT) AS med_cents,
             CAST(sum(cents * CASE WHEN cum - n < r3 AND r3 <= cum
               THEN 1 ELSE 0 END) AS BIGINT) AS q3_cents,
             max_cents
      FROM j GROUP BY 1, 2, 3, 7 ORDER BY 1""")
  )

  /** l-diversity audit — the companion to [[qKanon]]: k-anonymity bounds
    * group SIZE, l-diversity bounds how many distinct SENSITIVE values each
    * quasi-identifier group carries (a k=50 group whose 50 rows all share
    * one salary bucket still leaks). QI = (nation, segment); sensitive =
    * 1000-wide balance bucket. One groupBy computing size + distinct
    * sensitive count per group, one single-row rollup — all exact integers
    * plus one pinned ratio.
    */
  val qLdiversity = QueryDef(
    "q_p_ldiversity",
    (s, dir) => {
      val g = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          (floor(col("c_acctbal") / lit(1000.0)).cast("long") * lit(1000L))
            .as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("bal_bucket")).as("l"))
      g.agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_rows"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < 3L, 1L).otherwise(0L)).as("groups_lt3"),
        sum(when(col("l") < 3L, col("n")).otherwise(0L)).as("rows_at_risk"))
        .select(col("n_groups"), col("n_rows"), col("min_l"),
          col("groups_lt3"), col("rows_at_risk"),
          r6(col("rows_at_risk").cast("double")
            / col("n_rows").cast("double")).as("pct_at_risk"))
    },
    Some(s"""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n,
               CAST(count(DISTINCT CAST(floor(c_acctbal / 1000e0) AS BIGINT)
                 * 1000) AS BIGINT) AS l
        FROM customer GROUP BY 1, 2)
      SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows,
             min(l) AS min_l,
             CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_lt3,
             CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
             ${sqlR6("""CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END)
               AS DOUBLE) / CAST(sum(n) AS DOUBLE)""")} AS pct_at_risk
      FROM g""")
  )

  /** Closeness + harmonic centrality from three fixed sources over the
    * q_g_treedepth tree, traversed UNDIRECTED: driver-synchronized
    * frontier BFS (anti-join against the visited set keeps each node's
    * FIRST — i.e. minimal — distance; localCheckpoint truncates the
    * growing lineage). All distances are exact integers; closeness is one
    * pinned division and harmonic centrality an exact DECIMAL(38,18)
    * accumulation of pinned per-node 1/d terms. Oracle replays the BFS as
    * a depth-capped recursive CTE with min(d) collapse — revisits enumerate
    * longer walks, the min keeps the BFS answer.
    */
  val qCloseness = QueryDef(
    "q_g_closeness",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val nodes = t(s, dir, "customer")
        .select((col("c_custkey").cast("long") + 1L).as("c"))
        .localCheckpoint(false)
      val edges = nodes.filter(col("c") > 1)
        .withColumn("p", expr(
          "CASE WHEN c % 2 = 0 THEN c div 2 ELSE greatest(c div 3, 1) END"))
      val und = edges.select(col("c").as("u"), col("p").as("v"))
        .unionByName(edges.select(col("p").as("u"), col("c").as("v")))
        .localCheckpoint(false)
      val seeds = Seq(1L, 2L, 7L).toDF("src")
        .select(col("src"), col("src").as("c"), lit(0L).as("d"))
        .localCheckpoint(false)
      // TWO-FRONTIER BFS (r19, closes the r18 "copy term" item): a
      // candidate generated from the depth-d frontier is adjacent to a
      // node at exact distance d, so its true distance is ≥ d−1 — an
      // already-visited candidate can only live in frontier d or d−1.
      // The per-round anti-join therefore needs only the LAST TWO
      // checkpointed frontiers (per src; src is in the join key), never
      // the whole visited set: no O(V) visited copy per round (the r18
      // cadence-4 consolidation still paid O(V·depth/4)), and the
      // per-round plan is bounded at 2 anti-join arms at ANY depth. The
      // full per-round frames are each materialized exactly once; the
      // final union over all rounds is evaluated by ONE aggregation pass
      // at the end — frontier frames are disjoint by construction, so
      // total rows scanned = V, not V·depth.
      var frontier = seeds
      var prevFrontier: Option[org.apache.spark.sql.DataFrame] = None
      val rounds = scala.collection.mutable.ArrayBuffer(seeds)
      var round = 0
      var frontierRows = 1L // seeds are non-empty by construction
      while (round < 64 && frontierRows > 0L) {
        val visited2 = prevFrontier match {
          case Some(p) => frontier.select("src", "c")
            .unionByName(p.select("src", "c"))
          case None => frontier.select("src", "c")
        }
        val next = und
          .join(frontier.select(col("src"), col("c").as("u"), col("d")),
            Seq("u"))
          .select(col("src"), col("v").as("c"), (col("d") + 1L).as("d"))
          .distinct()
          .join(visited2, Seq("src", "c"), "left_anti")
          .localCheckpoint(false)
        // count() doubles as the checkpoint's materializing action AND the
        // loop's emptiness test — the former isEmpty was a separate job per
        // round on top of the materialization the next join triggered
        frontierRows = next.count()
        prevFrontier = Some(frontier)
        frontier = next
        if (frontierRows > 0L) rounds += next
        round += 1
      }
      rounds.reduce(_ unionByName _).where(col("d") > 0L)
        .groupBy("src")
        .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_dist"),
          max(col("d")).as("eccentricity"),
          sum((lit(1.0) / col("d").cast("double")).cast("decimal(38,18)"))
            .cast("double").as("h"))
        .select(col("src"), col("n_reached"), col("sum_dist"),
          col("eccentricity"),
          r6(col("n_reached").cast("double")
            / col("sum_dist").cast("double")).as("closeness"),
          r6(col("h")).as("harmonic"))
        .orderBy("src")
    },
    Some(s"""
      WITH RECURSIVE n AS (
        SELECT CAST(c_custkey + 1 AS BIGINT) AS c FROM customer),
      e AS (
        SELECT c,
               CASE WHEN c % 2 = 0 THEN c // 2
                    ELSE greatest(c // 3, 1) END AS p
        FROM n WHERE c > 1),
      und AS (
        SELECT c AS u, p AS v FROM e
        UNION ALL SELECT p, c FROM e),
      walk(src, c, d) AS (
        SELECT src, src, CAST(0 AS BIGINT)
        FROM (VALUES (CAST(1 AS BIGINT)), (2), (7)) s(src)
        UNION
        SELECT w.src, und.v, w.d + 1
        FROM walk w JOIN und ON und.u = w.c WHERE w.d < 60),
      m AS (
        SELECT src, c, min(d) AS d FROM walk GROUP BY 1, 2)
      SELECT src, count(*) AS n_reached, CAST(sum(d) AS BIGINT) AS sum_dist,
             max(d) AS eccentricity,
             ${sqlR6("""CAST(count(*) AS DOUBLE)
               / CAST(sum(d) AS DOUBLE)""")} AS closeness,
             ${sqlR6("""CAST(sum(CAST(1e0 / CAST(d AS DOUBLE)
               AS DECIMAL(38,18))) AS DOUBLE)""")} AS harmonic
      FROM m WHERE d > 0 GROUP BY 1 ORDER BY 1""")
  )

  /** Lorenz-curve decile feed for revenue concentration: customers ranked
    * by exact integer revenue cents, split into mid-rank deciles over the
    * VALUE HISTOGRAM (no global row sort — the same prefix-scan selection
    * as q_a29_boxplot), each decile reporting its customer count, exact
    * revenue sum, share, and cumulative share. The cumulative sum runs
    * over integers (SequenceOps), so shares are single pinned divisions —
    * the curve q_a20_gini's scalar collapses.
    */
  val qLorenz = QueryDef(
    "q_a30_lorenz",
    (s, dir) => {
      import graft.plans.SequenceOps
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .groupBy("o_custkey")
        .agg(sum(col("cents")).as("rev"))
      val h = rev.groupBy("rev").agg(count(lit(1)).as("n"))
      val cum = SequenceOps.runningSum(h, Nil, Seq("rev"), "n", "cum")
      val tot = h.agg(sum(col("n")).as("nt"))
      val bins = cum.crossJoin(broadcast(tot))
        .withColumn("bin", expr("(2 * cum - n) * 10 div (2 * nt)"))
        .groupBy("bin")
        .agg(sum(col("n")).as("n_cust"),
          sum(col("rev") * col("n")).as("rev_cents"))
      val run = SequenceOps.runningSum(bins, Nil, Seq("bin"), "rev_cents",
        "cum_cents")
      val tr = bins.agg(sum(col("rev_cents")).as("total_cents"))
      run.crossJoin(broadcast(tr))
        .select(col("bin"), col("n_cust"), col("rev_cents"),
          r6(col("rev_cents").cast("double")
            / col("total_cents").cast("double")).as("share"),
          r6(col("cum_cents").cast("double")
            / col("total_cents").cast("double")).as("cum_share"))
        .orderBy("bin")
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      h AS (SELECT rev, count(*) AS n FROM rev GROUP BY 1),
      c AS (
        SELECT rev, n,
               CAST(sum(n) OVER (ORDER BY rev
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM h),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM h),
      bins AS (
        SELECT (2 * cum - n) * 10 // (2 * nt) AS bin,
               CAST(sum(n) AS BIGINT) AS n_cust,
               CAST(sum(rev * n) AS BIGINT) AS rev_cents
        FROM c CROSS JOIN tot GROUP BY 1),
      run AS (
        SELECT bin, n_cust, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_cents,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
        FROM bins)
      SELECT bin, n_cust, rev_cents,
             ${sqlR6("""CAST(rev_cents AS DOUBLE)
               / CAST(total_cents AS DOUBLE)""")} AS share,
             ${sqlR6("""CAST(cum_cents AS DOUBLE)
               / CAST(total_cents AS DOUBLE)""")} AS cum_share
      FROM run ORDER BY bin""")
  )

  /** Pareto concentration point: the smallest number of top customers
    * whose revenue crosses 80% of the total. Customers are ranked by
    * DESCENDING exact revenue over the value histogram (negated key into
    * the same prefix scan as q_a30_lorenz); the crossing test
    * 5·cum_cents ≥ 4·total is pure integer arithmetic, and because
    * cum_n and cum_cents are co-monotone the two conditional mins pick
    * the same crossing cell. No global row sort, no doubles until the
    * two final ratio columns.
    */
  val qPareto = QueryDef(
    "q_a31_pareto",
    (s, dir) => {
      import graft.plans.SequenceOps
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .groupBy("o_custkey")
        .agg(sum(col("cents")).as("rev"))
      val h = rev.groupBy("rev").agg(count(lit(1)).as("n"))
        .withColumn("nrev", -col("rev"))
        .withColumn("cell_cents", col("rev") * col("n"))
      val r1 = SequenceOps.runningSum(h, Nil, Seq("nrev"), "n", "cum_n")
      val r2 = SequenceOps.runningSum(r1, Nil, Seq("nrev"), "cell_cents",
        "cum_cents")
      val tot = h.agg(sum(col("n")).as("nt"),
        sum(col("cell_cents")).as("tc"))
      r2.crossJoin(broadcast(tot))
        .agg(max(col("nt")).as("n_customers"), max(col("tc"))
          .as("total_cents"),
          min(when(col("cum_cents") * 5L >= col("tc") * 4L, col("cum_n")))
            .as("n80"),
          min(when(col("cum_cents") * 5L >= col("tc") * 4L,
            col("cum_cents"))).as("cents80"))
        .select(col("n_customers"), col("total_cents"), col("n80"),
          r6(col("n80").cast("double") / col("n_customers").cast("double"))
            .as("pct_customers"),
          r6(col("cents80").cast("double")
            / col("total_cents").cast("double")).as("share_at_crossing"))
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      h AS (
        SELECT rev, count(*) AS n, rev * count(*) AS cell_cents
        FROM rev GROUP BY 1),
      c AS (
        SELECT CAST(sum(n) OVER w AS BIGINT) AS cum_n,
               CAST(sum(cell_cents) OVER w AS BIGINT) AS cum_cents
        FROM h
        WINDOW w AS (ORDER BY rev DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(cell_cents) AS BIGINT) AS tc
        FROM h)
      SELECT nt AS n_customers, tc AS total_cents,
             min(CASE WHEN cum_cents * 5 >= tc * 4 THEN cum_n END) AS n80,
             ${sqlR6("""CAST(min(CASE WHEN cum_cents * 5 >= tc * 4
                 THEN cum_n END) AS DOUBLE) / CAST(nt AS DOUBLE)""")}
               AS pct_customers,
             ${sqlR6("""CAST(min(CASE WHEN cum_cents * 5 >= tc * 4
                 THEN cum_cents END) AS DOUBLE) / CAST(tc AS DOUBLE)""")}
               AS share_at_crossing
      FROM c CROSS JOIN tot GROUP BY 1, 2""")
  )

  /** Theil inequality indices over customer revenue — the entropy-based
    * complement to q_a20_gini that DECOMPOSES across subgroups: Theil T =
    * (1/n)Σ(x/μ)ln(x/μ) and the mean log deviation L = (1/n)Σ ln(μ/x).
    * Revenue is exact integer cents and μ one pinned division; each
    * per-customer term is a single pinned transcendental chain whose ≤1-ulp
    * cross-engine noise is crushed by the exact decimal mean + r6 (the
    * q_a21_entropy argument). One aggregation + broadcast of a one-row
    * total — no sort, no window.
    */
  val qTheil = QueryDef(
    "q_a32_theil",
    (s, dir) => {
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .groupBy("o_custkey")
        .agg(sum(col("cents")).as("rev"))
      val tot = rev.agg(count(lit(1)).as("n"), sum(col("rev")).as("tc"))
      val mu = col("tc").cast("double") / col("n").cast("double")
      val ratio = col("rev").cast("double") / mu
      rev.crossJoin(broadcast(tot))
        .select(col("n"), (ratio * log(ratio)).as("tt"),
          log(mu / col("rev").cast("double")).as("tl"))
        .groupBy("n")
        .agg(
          r6(sum(col("tt").cast("decimal(38,18)")).cast("double")
            / col("n").cast("double")).as("theil_t"),
          r6(sum(col("tl").cast("decimal(38,18)")).cast("double")
            / col("n").cast("double")).as("theil_l"))
        .select(col("n").as("n_customers"), col("theil_t"), col("theil_l"))
    },
    Some(s"""
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS tc
        FROM rev),
      term AS (
        SELECT n,
               (CAST(rev AS DOUBLE) / (CAST(tc AS DOUBLE)
                   / CAST(n AS DOUBLE)))
                 * ln(CAST(rev AS DOUBLE) / (CAST(tc AS DOUBLE)
                   / CAST(n AS DOUBLE))) AS tt,
               ln((CAST(tc AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(rev AS DOUBLE)) AS tl
        FROM rev CROSS JOIN tot)
      SELECT n AS n_customers,
             ${sqlR6("""CAST(sum(CAST(tt AS DECIMAL(38,18))) AS DOUBLE)
               / CAST(n AS DOUBLE)""")} AS theil_t,
             ${sqlR6("""CAST(sum(CAST(tl AS DECIMAL(38,18))) AS DOUBLE)
               / CAST(n AS DOUBLE)""")} AS theil_l
      FROM term GROUP BY 1""")
  )

  /** Composed GRAPH pipeline — community influence analytics: the SAME
    * bulk co-purchase graph feeds both LPA community detection (lpaState,
    * the q_g_labelprop partition) and integer PageRank (graph.PageRank,
    * the q_g_pagerank recursion), then one join scores every community by
    * its total rank mass and names its most-influential member (max rank,
    * ties to the smallest node id — the max-struct idiom). The "build a
    * graph once, run N algorithms, join their outputs" shape every graph
    * platform demo ships — here as a single gated query whose oracle
    * replays BOTH iterative algorithms as chained CTEs off one shared
    * edge list. Everything is exact integers (LPA labels, floor-div
    * ranks, counts) — bit-exact, no rounding.
    */
  val qGraphE2e = {
    val K = 3
    val scale = 1000000000000L
    val iterCtes = (1 to K).map { k =>
      s"""c$k AS (
        SELECT e.dst AS node,
               CAST(sum((r.rank * 85) // (e.outdeg * 100)) AS BIGINT) AS s
        FROM ed e JOIN r${k - 1} r ON r.node = e.src GROUP BY 1),
      r$k AS (
        SELECT n.node, b.base + coalesce(c.s, 0) AS rank
        FROM nodes n CROSS JOIN b LEFT JOIN c$k c ON c.node = n.node)"""
    }.mkString(",\n      ")
    QueryDef(
      "q_pipeline_graph_e2e",
      (s, dir) => {
        val (_, edges, lab) = lpaState(s, dir)
        val pr = graft.graph.PageRank.run(edges, iterations = K,
          scale = scale)
        lab.join(pr, Seq("node"))
          .groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("rank")).as("rank_mass"),
            max(struct(col("rank").as("r"), (-col("node")).as("nn")))
              .as("m"))
          .select(col("community"), col("n_nodes"), col("rank_mass"),
            (-col("m.nn")).as("top_node"), col("m.r").as("top_rank"))
          .orderBy(desc("rank_mass"), col("community"))
          .limit(20)
      },
      Some(s"""
      WITH $lpaOracleCtes,
      deg AS (SELECT src, count(*) AS outdeg FROM eall GROUP BY 1),
      ed AS (SELECT e.src, e.dst, d.outdeg
             FROM eall e JOIN deg d USING (src)),
      nodes AS (SELECT DISTINCT src AS node FROM eall),
      b AS (
        SELECT ($scale * 15) // (count(*) * 100) AS base,
               $scale // count(*) AS init FROM nodes),
      r0 AS (SELECT node, b.init AS rank FROM nodes CROSS JOIN b),
      $iterCtes,
      j AS MATERIALIZED (
        SELECT l.lbl AS community, r.node, r.rank
        FROM l$LpIters l JOIN r$K r ON r.node = l.node),
      agg AS (SELECT community, count(*) AS n_nodes,
                     CAST(sum(rank) AS BIGINT) AS rank_mass
              FROM j GROUP BY 1),
      tn AS (
        SELECT community, node AS top_node, rank AS top_rank FROM (
          SELECT community, node, rank, row_number() OVER (
            PARTITION BY community ORDER BY rank DESC, node) AS rn
          FROM j) WHERE rn = 1)
      SELECT a.community, a.n_nodes, a.rank_mass, tn.top_node,
             CAST(tn.top_rank AS BIGINT) AS top_rank
      FROM agg a JOIN tn USING (community)
      ORDER BY rank_mass DESC, community LIMIT 20""")
    )
  }

  /** Composed CDC / incremental-view-maintenance pipeline: a
    * deterministic change batch (updates that MOVE rows across segments,
    * inserts of new keys, deletes) is applied to the customer snapshot
    * with the MERGE semantics of q_scd1_merge, while the per-segment
    * aggregate view is maintained TWO independent ways — incrementally
    * (base aggregate + the delta algebra: −old +new for updates, +new
    * for inserts, −old for deletes) and by full recompute over the merged
    * snapshot. The gate row per segment publishes both results AND their
    * exact-equality flag: balances ride DECIMAL(28,6) end-to-end, so IVM
    * consistency is exact decimal equality, not a tolerance — any error
    * in the delta algebra, the merge, or the segment-crossing bookkeeping
    * flips a boolean and the hash. This is the maintenance loop every
    * incremental warehouse runs; at 100 TB the delta side touches only
    * the change batch (bounded), never the base table.
    */
  val qCdcE2e = QueryDef(
    "q_pipeline_cdc_e2e",
    (s, dir) => {
      val dec = "decimal(28,6)"
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .localCheckpoint(true) // read by ops, merge, and the base aggregate
      val upd = base
        .filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"), (col("c_acctbal") + 50.0).as("nb"),
          lit("UPSERTED").as("ns"), col("c_acctbal").as("ob"),
          col("c_mktsegment").as("os"))
      // insert keys live in the NEGATED namespace: base keys are positive
      // at every scale, so -k can never collide with a real customer key —
      // a fixed additive offset (the r12 shape) collides once the table
      // passes the offset (TPC-H SF ≥ ~7) and silently breaks the MERGE's
      // key-uniqueness contract (ADVICE r12)
      val ins = base.filter(col("c_custkey") % 10 === 0)
        .select((-col("c_custkey")).as("c_custkey"),
          (col("c_acctbal") + 50.0).as("c_acctbal"),
          lit("UPSERTED").as("c_mktsegment"))
      val del = base.filter(col("c_custkey") % 13 === 0)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val merged = base
        .join(del.select("c_custkey"), Seq("c_custkey"), "left_anti")
        .join(upd.select("c_custkey", "nb", "ns"), Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("nb"), col("c_acctbal")).as("c_acctbal"),
          coalesce(col("ns"), col("c_mktsegment")).as("c_mktsegment"))
        .unionByName(ins)
      // delta algebra per segment — negate AFTER the decimal cast so both
      // engines negate the identical decimal, not the double
      val d = upd.select(col("os").as("seg"), lit(-1L).as("dn"),
          (-col("ob").cast(dec)).as("db"))
        .unionByName(upd.select(col("ns").as("seg"), lit(1L).as("dn"),
          col("nb").cast(dec).as("db")))
        .unionByName(ins.select(col("c_mktsegment").as("seg"),
          lit(1L).as("dn"), col("c_acctbal").cast(dec).as("db")))
        .unionByName(del.select(col("c_mktsegment").as("seg"),
          lit(-1L).as("dn"), (-col("c_acctbal").cast(dec)).as("db")))
        .groupBy("seg")
        .agg(sum(col("dn")).as("dn"), sum(col("db")).as("dbal"))
      val baseAgg = base.groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n0"),
          sum(col("c_acctbal").cast(dec)).as("b0"))
      val incAgg = baseAgg.join(d, Seq("seg"), "full_outer")
        .select(col("seg"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_inc"),
          (coalesce(col("b0"), lit(0).cast(dec))
            + coalesce(col("dbal"), lit(0).cast(dec))).as("b_inc"))
      val fullAgg = merged.groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_full"),
          sum(col("c_acctbal").cast(dec)).as("b_full"))
      incAgg.join(fullAgg, Seq("seg"), "full_outer")
        .select(col("seg"), col("n_inc"), col("n_full"),
          decD(col("b_inc")).as("bal_inc"),
          decD(col("b_full")).as("bal_full"),
          (col("n_inc") === col("n_full") &&
            col("b_inc") === col("b_full")).as("consistent"))
        .orderBy("seg")
    },
    Some(s"""
      WITH base AS (
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      upd AS (
        SELECT c_custkey, c_acctbal + 50.0 AS nb, 'UPSERTED' AS ns,
               c_acctbal AS ob, c_mktsegment AS os
        FROM base WHERE c_custkey % 5 = 0 AND c_custkey % 13 <> 0),
      ins AS (
        SELECT -c_custkey AS c_custkey,
               c_acctbal + 50.0 AS c_acctbal, 'UPSERTED' AS c_mktsegment
        FROM base WHERE c_custkey % 10 = 0),
      del AS (
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM base WHERE c_custkey % 13 = 0),
      merged AS (
        SELECT b.c_custkey,
               coalesce(u.nb, b.c_acctbal) AS c_acctbal,
               coalesce(u.ns, b.c_mktsegment) AS c_mktsegment
        FROM base b
        LEFT JOIN upd u ON u.c_custkey = b.c_custkey
        WHERE b.c_custkey NOT IN (SELECT c_custkey FROM del)
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment FROM ins),
      d AS (
        SELECT seg, CAST(sum(dn) AS BIGINT) AS dn,
               CAST(sum(db) AS DECIMAL(38,6)) AS dbal
        FROM (
          SELECT os AS seg, -1 AS dn,
                 -CAST(ob AS DECIMAL(28,6)) AS db FROM upd
          UNION ALL
          SELECT ns, 1, CAST(nb AS DECIMAL(28,6)) FROM upd
          UNION ALL
          SELECT c_mktsegment, 1, CAST(c_acctbal AS DECIMAL(28,6))
          FROM ins
          UNION ALL
          SELECT c_mktsegment, -1, -CAST(c_acctbal AS DECIMAL(28,6))
          FROM del)
        GROUP BY 1),
      base_agg AS (
        SELECT c_mktsegment AS seg, count(*) AS n0,
               CAST(sum(CAST(c_acctbal AS DECIMAL(28,6)))
                 AS DECIMAL(38,6)) AS b0
        FROM base GROUP BY 1),
      inc_agg AS (
        SELECT coalesce(b.seg, d.seg) AS seg,
               coalesce(b.n0, 0) + coalesce(d.dn, 0) AS n_inc,
               coalesce(b.b0, CAST(0 AS DECIMAL(38,6)))
                 + coalesce(d.dbal, CAST(0 AS DECIMAL(38,6))) AS b_inc
        FROM base_agg b FULL OUTER JOIN d ON d.seg = b.seg),
      full_agg AS (
        SELECT c_mktsegment AS seg, count(*) AS n_full,
               CAST(sum(CAST(c_acctbal AS DECIMAL(28,6)))
                 AS DECIMAL(38,6)) AS b_full
        FROM merged GROUP BY 1)
      SELECT coalesce(i.seg, f.seg) AS seg,
             CAST(n_inc AS BIGINT) AS n_inc,
             CAST(n_full AS BIGINT) AS n_full,
             ${sqlDecD("b_inc")} AS bal_inc,
             ${sqlDecD("b_full")} AS bal_full,
             (n_inc = n_full AND b_inc = b_full) AS consistent
      FROM inc_agg i FULL OUTER JOIN full_agg f ON f.seg = i.seg
      ORDER BY seg""")
  )

  /** CAS-BY-DEFAULT substrate gate (r18, verdict order #1): two
    * OUT-OF-PROCESS-shaped writers — independent jobs that share nothing
    * but the index root, the exact deployment of a stream-writer beside
    * a scheduled maintenance job — race the DEFAULT lifecycle APIs, with
    * no stageRewriteAt choreography. Under the r17 protocol this lost
    * data: commitManifests installed its marker with REPLACE_EXISTING,
    * so both jobs "succeeded" at version v+1 and the first acknowledged
    * commit silently vanished (the headline r17 `weak`). Now every
    * default commit stages a WRITER-UNIQUE generation, installs its
    * marker through the link(2) CAS, and on a lost race re-reads the
    * winner's snapshot and retries at the next version. The gate runs
    * two barrier-aligned threads, each appending three disjoint slices
    * through ManifestedPartitions.append, then one default-API
    * compaction. Pins: the committed version chain is GAPLESS with one
    * winner per version (`one_winner_per_version`), every append landed
    * (`no_lost_update` — versions 1..7 before compaction), and the final
    * snapshot's per-partition contents equal the full table — the
    * DuckDB oracle recomputes them from the raw parquet, so a single
    * lost row flips the hash.
    */
  val qMpCasDefault = QueryDef(
    "q_mp_cas_default",
    (s, dir) => {
      import graft.sources.{ManifestedPartitions => MP, VersionedView}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).cast("int").as("part"))
        .localCheckpoint(true)
      Dirs.scratch("graft_cas_default") { stage =>
        val root = stage.toString
        MP.init(docs.filter(pmod(col("doc_id"), lit(7)) === 0),
          root, "d", "part") // v1
        // six disjoint slices tile the remaining rows: writer A ingests
        // slices 1-3, writer B slices 4-6, barrier-aligned so each round
        // both jobs read the same latest version and race its successor
        val slices = (1 to 6).map(i =>
          docs.filter(pmod(col("doc_id"), lit(7)) === i)
            .localCheckpoint(true))
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def writer(mine: Seq[org.apache.spark.sql.DataFrame]) =
          new Thread(() =>
            try mine.foreach { d =>
              barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
              MP.append(s, root, "d", "part", d)
              ()
            } catch { case t: Throwable => errs.add(t) })
        val a = writer(slices.take(3))
        val b = writer(slices.drop(3))
        a.start(); b.start()
        a.join(300000); b.join(300000)
        require(errs.isEmpty,
          s"a racing default-API writer failed: ${errs.peek()}")
        val noLostUpdate =
          VersionedView.committedVersions(root) == (1L to 7L)
        // scheduled maintenance through the same default API
        val compacted = MP.compact(s, root, Seq(("d", "part")))
        val oneWinnerPerVersion = compacted > 0 &&
          VersionedView.committedVersions(root) == (1L to 8L)
        MP.readLatest(s, root, "d", "part")
          .groupBy("part")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
          .withColumn("no_lost_update", lit(noLostUpdate))
          .withColumn("one_winner_per_version", lit(oneWinnerPerVersion))
          .orderBy("part")
          .localCheckpoint(true)
      }
    },
    Some("""
      SELECT CAST(doc_id % 8 AS INT) AS part, count(*) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS sum_ids,
             TRUE AS no_lost_update, TRUE AS one_winner_per_version
      FROM documents GROUP BY 1 ORDER BY part""")
  )

  val all: Seq[QueryDef] = Seq(oTopK, aSpikeSummary, eJson, aSummary,
    mKmeans, mLloydStep, qAsof, qRange, qRollup, qCube, qGroupingSets,
    qPercentile, qHistogram, qZOrder, qHilbert, qCompactPlan, qScd2, qScd1,
    qIncAgg,
    qQuantileExact, qQuantileSample, qPagerank, qTriangles, qChecksum,
    qChi2, qHhi,
    qProfile, qBenford, qGini, qEntropy, qMi, qSnapshotDiff, qWinsor,
    qFkAudit, qMoments, qAssortativity, qPartitionedScan, qKcore,
    qLabelProp, qScd2AsOf, qSkewProfile, qHits, qExpectations, qDegreeDist,
    qIqrOutliers, qSkyline, qUnpivot, qPsi, qOrcScan, qCramersV,
    qCsvCorrupt, qClustCoef, qKanon, qMergeSchema, qModularity,
    qJsonl, qCsvGzip, qTreeDepth, qBoxplot, qLdiversity, qCloseness,
    qLorenz, qPareto, qTheil, qGraphE2e, qCdcE2e, qMpCasDefault)
}

