package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The segmented scan behind the prefix-scan operators ([[SequenceOps]]'s
  * row numbers, leads, running sums and maxima; [[EwmaScan]]; [[HoltScan]]).
  * A `Window.partitionBy(g).orderBy(t)` or a sequential fold runs each
  * group in one task (3 groups run 3-wide on any cluster: 5.5× slower at
  * 10× data in tools.Soak); here a group spans many segments:
  *
  *   1. SEGMENT into ordered segments ([[byRange]], [[byBucket]]) whose
  *      (segment, group) runs are contiguous and sorted. The lazy
  *      `localCheckpoint` makes every pass read ONE segmentation (a fresh
  *      `repartitionByRange` re-samples its bounds; a lost block fails
  *      loudly); its blocks stay registered until unpersisted (Bench/Verify
  *      free them via `getPersistentRDDs`).
  *   2. SUMMARISE each (segment, group) into a boundary row on the driver.
  *   3. PREFIX ([[prefix]]): fold the summaries per group in segment order
  *      into each segment's INCOMING state and each group's total.
  *   4. STITCH: window results via [[stitch]] (local window over (segment,
  *      group) joined to the broadcast boundary table), recurrences via
  *      [[recurrence]] (each segment's fold seeded with its incoming state).
  *
  * Parallelism is #segments, never #groups. Window results stay in
  * whole-stage codegen (an `RDD[Row]` formulation took 33 s vs ~8 s at the
  * 50× soak); only recurrences, which no window expresses, use
  * `mapPartitions`.
  */
object SegmentedScan {

  type Seg[T] = (Int, Seq[Any], T) // (segment id, group key, summary)
  val PidCol = "__seq_pid" // [[byRange]]'s segment id: the range partition
  private val BucketCol = "__seg_b"

  private def partitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
  private def table(spark: SparkSession, rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // duplicate names survive into the checkpointed LogicalRDD schema and
  // trip Spark's ambiguous-output WARN on every run — refuse loudly
  private def distinctNames(df: DataFrame, who: String): Unit = {
    val dups = df.columns.diff(df.columns.distinct)
    require(dups.isEmpty, s"$who: duplicate column names in input: " +
      dups.mkString(","))
  }

  /** Range segments: `repartitionByRange` on group ++ order, sorted and
    * tagged with [[PidCol]]. */
  def byRange(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      numPartitions: Option[Int]): DataFrame = {
    distinctNames(df, "SequenceOps")
    val keys = (groupCols ++ orderCols).map(col)
    df.repartitionByRange(numPartitions.getOrElse(partitions(df)), keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn(PidCol, spark_partition_id())
      .localCheckpoint(false)
  }

  /** Bucket segments, `valCol` cast to double as `__seg_x`: bucket
    * `(k − lo) div width` of `bucketKey`, `lo`/`hi` from an exact min/max,
    * `width = (hi − lo) div buckets + 1` (ids < `buckets`, overflow-free);
    * one hash shuffle on the bucket, sorted by (bucket, group, order).
    * Value-based, so independent invocations (the Verify aux dump and the
    * gated query) segment identically, as a replay from the seeds needs. */
  def byBucket(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      bucketKey: Column, valCol: String, buckets: Int,
      who: String): Option[DataFrame] = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    distinctNames(df, who)
    val keyed = df.withColumn("__seg_k", bucketKey.cast("long"))
      .withColumn("__seg_x", col(valCol).cast("double"))
    val mm = keyed.agg(min(col("__seg_k")), max(col("__seg_k"))).first()
    if (mm.isNullAt(0)) return None // empty input
    val lo = mm.getLong(0)
    val width = (mm.getLong(1) - lo) / buckets + 1
    Some(keyed
      .withColumn(BucketCol,
        expr(s"CAST((__seg_k - ${lo}L) DIV ${width}L AS INT)"))
      .repartition(partitions(df), col(BucketCol))
      .sortWithinPartitions((BucketCol +: (groupCols ++ orderCols)).map(col): _*)
      .localCheckpoint(false))
  }

  /** `aggs` per [[byRange]] (segment, group), in segment order. */
  def summarise(segs: DataFrame, groupCols: Seq[String],
      aggs: Seq[Column]): Seq[Seg[Row]] = {
    val ng = groupCols.length
    segs.groupBy(col(PidCol) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .collect() // ≤ partitions × |groups| rows — tiny by the op's charter
      .map(r => (r.getInt(0), (1 to ng).map(r.get),
        Row.fromSeq(r.toSeq.drop(1 + ng))))
      .sortBy(_._1).toSeq
  }

  /** Exclusive per-group fold of `segs` in their order: the state entering
    * each segment (aligned with `segs`) and each group's total. */
  def prefix[T, S](segs: Seq[Seg[T]], zero: S)(add: (S, T) => S)
      : (Seq[S], Map[Seq[Any], S]) = {
    val run = collection.mutable.Map[Seq[Any], S]().withDefaultValue(zero)
    val in = segs.map { case (_, g, t) => val s = run(g); run(g) = add(s, t); s }
    (in, run.toMap)
  }

  /** Joins `local` (a [[byRange]] frame plus local window columns) to the
    * broadcast boundary table — [[PidCol]], group keys and `vals` (typed by
    * `fields`) per segment — then appends `outs` and keeps `keep` ++ them.
    * Group keys match null-safely (`<=>`): plain `=` never matches a
    * null-keyed boundary row and would silently drop that group's rows. */
  def stitch(local: DataFrame, keep: Seq[String], groupCols: Seq[String],
      segs: Seq[Seg[_]], fields: Seq[StructField], vals: Seq[Seq[Any]])(
      outs: Seq[(String, Column)]): DataFrame = {
    val schema = StructType((StructField(PidCol, IntegerType, nullable = false)
      +: groupCols.map(local.schema(_))) ++ fields)
    val small = table(local.sparkSession, segs.zip(vals).map {
      case ((pid, g, _), v) => Row.fromSeq((pid +: g) ++ v) }, schema)
    val cond = (local(PidCol) === small(PidCol)) +:
      groupCols.map(c => local(c) <=> small(c))
    val joined = (PidCol +: groupCols).foldLeft(local.join(broadcast(small),
      cond.reduce(_ && _)))((d, c) => d.drop(small(c)))
    outs.foldLeft(joined) { case (d, (n, c)) => d.withColumn(n, c) }
      .select((keep ++ outs.map(_._1)).map(col): _*)
  }

  /** A recurrence over a non-null double column with state `S`: `fresh(x₁)`
    * opens a group, `step(s, x)` advances it (a seeded segment opens with
    * `step(seed, x₁)`), `carry(seed, n, x₁, last)` is the state leaving an
    * n-row segment entered with `seed` whose fresh fold ended in `last`, and
    * `state` gives a state's output values (`stateCols` in the seeds). */
  final case class Recurrence[S](who: String, segCol: String,
      stateCols: Seq[String], fresh: Double => S, step: (S, Double) => S,
      carry: (S, Long, Double, S) => S, state: S => Seq[Any])

  /** Runs `rec` over `valCol` per group in `orderCols` order on [[byBucket]]
    * segments. Returns `df` plus `outCols` (the state's values), and the
    * (segCol, group…, stateCols…) seeds table of the state ENTERING each
    * segment (nulls for a group's first). Summarise is a fresh fold per
    * segment — (count, first x, last state); the stitch is the recurrence
    * itself seeded per segment, so every output is `rec`'s own IEEE `×`/`+`
    * and a replay from the seeds agrees bit for bit. */
  def recurrence[S](df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], bucketKey: Column, valCol: String, buckets: Int,
      outCols: Seq[String], rec: Recurrence[S]): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    def dbl(n: String) = StructField(n, DoubleType, nullable = true)
    val outSchema = StructType(df.schema.fields ++ outCols.map(dbl))
    val seedSchema = StructType((StructField(rec.segCol, IntegerType, false)
      +: groupCols.map(df.schema(_))) ++ rec.stateCols.map(dbl))
    val segs = byBucket(df, groupCols, orderCols, bucketKey, valCol, buckets,
      rec.who).getOrElse {
      return (table(spark, Nil, outSchema), table(spark, Nil, seedSchema))
    }
    val Seq(bIdx, xIdx) = Seq(BucketCol, "__seg_x").map(segs.schema.fieldIndex)
    val gIdxs = groupCols.map(segs.schema.fieldIndex)
    // rows with their segment, position n in it, first x and state
    def fold(it: Iterator[Row], seed: ((Int, Seq[Any])) => Option[S]) = {
      var (seg, n, x1, s) = (null: (Int, Seq[Any]), 0L, 0.0, null.asInstanceOf[S])
      it.map { r =>
        if (r.isNullAt(xIdx)) throw new IllegalArgumentException(s"${rec.who}:" +
          s" null $valCol value — the recurrence requires non-null inputs")
        val (x, k) = (r.getDouble(xIdx), (r.getInt(bIdx), gIdxs.map(r.get(_))))
        if (k == seg) { n += 1; s = rec.step(s, x) }
        else {
          seg = k; n = 1L; x1 = x
          s = seed(k).fold(rec.fresh(x))(rec.step(_, x))
        }
        (r, k, n, x1, s)
      }
    }
    val summaries = segs.rdd.mapPartitions { it =>
      val out = collection.mutable.ArrayBuffer.empty[Seg[(Long, Double, S)]]
      fold(it, _ => None).foreach { case (_, (b, g), n, x1, s) =>
        if (n > 1L) out.dropRightInPlace(1)
        out += ((b, g, (n, x1, s)))
      }
      out.iterator
    }.collect() // ≤ buckets × |groups| rows — tiny by the op's charter
      .sortBy(_._1).toSeq
    val seeds = summaries.zip(prefix(summaries, Option.empty[S]) {
      case (in, (n, x1, last)) => Some(in.fold(last)(rec.carry(_, n, x1, last)))
    }._1).map { case ((b, g, _), s) => (b, g) -> s }
    val nulls = Seq.fill[Any](rec.stateCols.length)(null)
    val seedsDf = table(spark, seeds.map { case ((b, g), s) =>
      Row.fromSeq((b +: g) ++ s.fold(nulls)(rec.state)) }, seedSchema)
    val seedMap = seeds.toMap
    val origIdxs = df.schema.fieldNames.map(segs.schema.fieldIndex).toSeq
    val rows = segs.rdd.mapPartitions(it =>
      fold(it, seedMap.getOrElse(_, None)).map { case (r, _, _, _, s) =>
        Row.fromSeq(origIdxs.map(r.get) ++ rec.state(s)) })
    (spark.createDataFrame(rows, outSchema), seedsDf)
  }
}
