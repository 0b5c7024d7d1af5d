package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query's complete result: row count, the
  * sum of per-row xxhash64 values modulo a prime, and their xor. Every
  * column feeds the per-row hash, so computing the digest materializes every
  * row and column of the result — column pruning cannot skip any of the
  * query's work, which is why the benchmark times this action and not
  * count(). Doubles hash at float precision, so a last-bit difference in a
  * floating-point aggregate's summation order does not read as a wrong
  * answer.
  */
object Digest {
  private val Prime = 1000000007L

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => norm(df.col(quote(f.name)), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(pmod(col("h"), lit(Prime))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) if rewritten(et) => transform(c, x => norm(x, et))
    case st: StructType if rewritten(st) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt))))
      norm(array_sort(map_entries(c)), entries)
    case _ => c
  }

  private def rewritten(t: DataType): Boolean = t match {
    case DoubleType | _: MapType => true
    case ArrayType(et, _) => rewritten(et)
    case st: StructType => st.fields.exists(f => rewritten(f.dataType))
    case _ => false
  }
}
