package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.SequenceOps

/** SequenceOps must equal the window functions exactly — including at
  * partition boundaries, which is the whole point: with many range
  * partitions and few groups, every group spans partitions.
  */
class SequenceOpsSpec extends SparkSpec {

  test("lead + row_number equal window results on low-cardinality groups") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("g", (col("o_orderkey") % 3).cast("int")) // 3 groups, 15k rows
    val w = Window.partitionBy("g").orderBy(col("o_orderdate"), col("o_orderkey"))
    val want = orders
      .withColumn("lead_w", lead(col("o_totalprice"), 1).over(w))
      .withColumn("rn_w", row_number().over(w).cast("long"))
      .select("o_orderkey", "lead_w", "rn_w")
    val got = SequenceOps.withSequenceCols(orders,
        groupCols = Seq("g"),
        orderCols = Seq("o_orderdate", "o_orderkey"),
        leadSrc = Some("o_totalprice"), leadOut = "lead_s",
        rnCol = Some("rn_s"),
        numPartitions = Some(16)) // 3 groups across 16 partitions
      .select("o_orderkey", "lead_s", "rn_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    val bad = j.filter(
      !(col("rn_w") === col("rn_s")) ||
        (col("lead_w").isNull =!= col("lead_s").isNull) ||
        (col("lead_w").isNotNull && col("lead_w") =!= col("lead_s")))
    assert(bad.count() == 0, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("totalOut equals count(*) over the group partition") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("g", (col("o_orderkey") % 3).cast("int"))
    val want = orders
      .withColumn("n_w", count(lit(1)).over(Window.partitionBy("g")))
      .select("o_orderkey", "n_w")
    val got = SequenceOps.withSequenceCols(orders,
        groupCols = Seq("g"),
        orderCols = Seq("o_orderdate", "o_orderkey"),
        totalOut = Some("n_s"),
        numPartitions = Some(16))
      .select("o_orderkey", "n_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    assert(j.filter(col("n_w") =!= col("n_s")).count() == 0)
  }

  test("single group spanning all partitions") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (1, i, i * 10.0)).toDF("g", "t", "v")
    val got = SequenceOps.withSequenceCols(df, Seq("g"), Seq("t"),
        leadSrc = Some("v"), leadOut = "nxt", rnCol = Some("rn"),
        numPartitions = Some(13))
      .orderBy("t").collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(r.fieldIndex("rn")) == i + 1)
      if (i < 999)
        assert(r.getDouble(r.fieldIndex("nxt")) == (i + 2) * 10.0)
      else assert(r.isNullAt(r.fieldIndex("nxt")))
    }
  }

  test("null group keys are kept and sequenced (null-safe stitch join)") {
    import spark.implicits._
    // window partitionBy treats NULL as its own group; the stitch join
    // must too (<=> in the boundary join) — a plain `=` join silently
    // dropped these rows
    val df = Seq(
      (Option(1), 1, 10.0), (Option(1), 2, 20.0),
      (Option.empty[Int], 1, 1.0), (Option.empty[Int], 2, 2.0),
      (Option.empty[Int], 3, 3.0),
      (Option(2), 1, 30.0)
    ).toDF("g", "t", "v")
    val got = SequenceOps.withSequenceCols(df, Seq("g"), Seq("t"),
      leadSrc = Some("v"), leadOut = "nxt", rnCol = Some("rn"),
      numPartitions = Some(4))
    assert(got.count() == 6, "no rows may be dropped")
    val nulls = got.filter(col("g").isNull).orderBy("t").collect()
    assert(nulls.length == 3)
    assert(nulls.map(r => r.getLong(r.fieldIndex("rn"))).toSeq ==
      Seq(1L, 2L, 3L))
    assert(nulls(0).getDouble(nulls(0).fieldIndex("nxt")) == 2.0)
    assert(nulls(1).getDouble(nulls(1).fieldIndex("nxt")) == 3.0)
    assert(nulls(2).isNullAt(nulls(2).fieldIndex("nxt")))
  }

  test("empty partitions and tiny data") {
    import spark.implicits._
    val df = Seq((1, 1, 1.0), (2, 1, 2.0)).toDF("g", "t", "v")
    val got = SequenceOps.withSequenceCols(df, Seq("g"), Seq("t"),
        leadSrc = Some("v"), rnCol = Some("rn"), numPartitions = Some(8))
      .collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getLong(r.fieldIndex("rn")) == 1L)
      assert(r.isNullAt(r.fieldIndex("lead")))
    }
  }

  test("runningSum equals the window cumulative sum — global (no groups)") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("v", (col("o_orderkey") % 97).cast("long"))
    val w = Window.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = orders.withColumn("cs_w", sum("v").over(w))
      .select("o_orderkey", "cs_w")
    val got = SequenceOps.runningSum(orders, Seq.empty, Seq("o_orderkey"),
        "v", "cs_s", numPartitions = Some(16))
      .select("o_orderkey", "cs_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    assert(j.filter(col("cs_w") =!= col("cs_s")).count() == 0)
  }

  test("runningSum: all-null and partially-null groups match window sums") {
    import spark.implicits._
    // group 0: every value NULL (the boundary aggregate used to NPE on
    // getLong of a NULL sum); group 1: NULL prefix then values — the
    // cumulative sum must stay NULL until the first non-null, like the
    // window's null-skipping semantics
    val df = Seq(
      (0, 1, Option.empty[Long]), (0, 2, Option.empty[Long]),
      (0, 3, Option.empty[Long]),
      (1, 1, Option.empty[Long]), (1, 2, Option(5L)), (1, 3, Option(7L)),
      (2, 1, Option(1L)), (2, 2, Option.empty[Long]), (2, 3, Option(2L))
    ).toDF("g", "t", "v")
    val w = Window.partitionBy("g").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cs_w", sum("v").over(w)).select("g", "t", "cs_w")
    val got = SequenceOps.runningSum(df, Seq("g"), Seq("t"), "v", "cs_s",
        numPartitions = Some(5))
      .select("g", "t", "cs_s")
    val j = want.join(got, Seq("g", "t"))
    assert(j.count() == 9)
    assert(j.filter(
      (col("cs_w").isNull =!= col("cs_s").isNull) ||
        (col("cs_w").isNotNull && col("cs_w") =!= col("cs_s"))).count() == 0)
  }

  test("runningSum equals the window cumulative sum — grouped") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("g", (col("o_orderkey") % 3).cast("int"))
      .withColumn("v", (col("o_custkey") % 53).cast("long"))
    val w = Window.partitionBy("g").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = orders.withColumn("cs_w", sum("v").over(w))
      .select("o_orderkey", "cs_w")
    val got = SequenceOps.runningSum(orders, Seq("g"),
        Seq("o_orderdate", "o_orderkey"), "v", "cs_s",
        numPartitions = Some(16))
      .select("o_orderkey", "cs_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    assert(j.filter(col("cs_w") =!= col("cs_s")).count() == 0)
  }

  test("runningSums: two columns in one pass equal two window sums, " +
    "and totalOut equals the group total (r19 fused prefix sums)") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("g", (col("o_orderkey") % 3).cast("int"))
      .withColumn("v1", (col("o_custkey") % 53).cast("long"))
      .withColumn("v2", (col("o_orderkey") % 7).cast("long"))
    val w = Window.partitionBy("g")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("g")
    val want = orders
      .withColumn("c1_w", sum("v1").over(w))
      .withColumn("c2_w", sum("v2").over(w))
      .withColumn("tot_w", sum("v1").over(wp))
      .select("o_orderkey", "c1_w", "c2_w", "tot_w")
    val got = SequenceOps.runningSums(orders, Seq("g"),
        Seq("o_orderdate", "o_orderkey"),
        Seq("v1" -> "c1_s", "v2" -> "c2_s"),
        numPartitions = Some(16), totalOut = Some("tot_s"))
      .select("o_orderkey", "c1_s", "c2_s", "tot_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    assert(j.filter(col("c1_w") =!= col("c1_s") ||
      col("c2_w") =!= col("c2_s") ||
      col("tot_w") =!= col("tot_s")).count() == 0)
  }

  test("runningMax equals the window cumulative max — global and grouped") {
    val orders = spark.read.parquet(s"$sfCorrect/orders.parquet")
      .withColumn("g", (col("o_orderkey") % 3).cast("int"))
      .withColumn("v", (col("o_custkey") % 53).cast("long"))
    val wg = Window.orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wantG = orders.withColumn("cm_w", max("v").over(wg))
      .select("o_orderkey", "cm_w")
    val gotG = SequenceOps.runningMax(orders, Seq.empty,
        Seq("o_orderdate", "o_orderkey"), "v", "cm_s",
        numPartitions = Some(16))
      .select("o_orderkey", "cm_s")
    val jg = wantG.join(gotG, "o_orderkey")
    assert(jg.count() == orders.count())
    assert(jg.filter(col("cm_w") =!= col("cm_s")).count() == 0)
    val wp = Window.partitionBy("g")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = orders.withColumn("cm_w", max("v").over(wp))
      .select("o_orderkey", "cm_w")
    val got = SequenceOps.runningMax(orders, Seq("g"),
        Seq("o_orderdate", "o_orderkey"), "v", "cm_s",
        numPartitions = Some(16))
      .select("o_orderkey", "cm_s")
    val j = want.join(got, "o_orderkey")
    assert(j.count() == orders.count())
    assert(j.filter(col("cm_w") =!= col("cm_s")).count() == 0)
  }

  test("runningMax: null values stay null until the first real value") {
    import spark.implicits._
    val df = Seq(
      (0, 1, Option.empty[Long]), (0, 2, Option(5L)),
      (0, 3, Option.empty[Long]), (0, 4, Option(3L)),
      (1, 1, Option.empty[Long]), (1, 2, Option.empty[Long])
    ).toDF("g", "t", "v")
    val w = Window.partitionBy("g").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cm_w", max("v").over(w)).select("g", "t", "cm_w")
    val got = SequenceOps.runningMax(df, Seq("g"), Seq("t"), "v", "cm_s",
        numPartitions = Some(4))
      .select("g", "t", "cm_s")
    val j = want.join(got, Seq("g", "t"))
    assert(j.count() == 6)
    assert(j.filter(!(col("cm_w") <=> col("cm_s"))).count() == 0)
  }

  test("runningSum: a segment whose local prefix is all-null keeps the " +
    "earlier segments' total, zero included") {
    import spark.implicits._
    val w = Window.partitionBy("g").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // values for t ≤ 4, NULL after: with 4 segments the later segments
    // see only NULLs locally; the second frame's values sum to 0
    Seq(Seq(1L, 1L, 1L, 1L), Seq(1L, -1L, 1L, -1L)).foreach { vs =>
      val df = (1 to 8).map(t => (1, t, vs.lift(t - 1))).toDF("g", "t", "v")
      val want = df.withColumn("cs_w", sum("v").over(w)).select("g", "t", "cs_w")
      val got = SequenceOps.runningSum(df, Seq("g"), Seq("t"), "v", "cs_s",
          numPartitions = Some(4))
        .select("g", "t", "cs_s")
      val j = want.join(got, Seq("g", "t"))
      assert(j.count() == 8)
      val bad = j.filter(!(col("cs_w") <=> col("cs_s")))
      assert(bad.count() == 0, s"mismatches: ${bad.collect().mkString(";")}")
    }
  }
}
