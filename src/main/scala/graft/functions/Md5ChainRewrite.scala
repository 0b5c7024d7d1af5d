package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression,
  Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType,
  StringType}

/** Optimizer rule: rewrite the portable-hash SQL chain
  *
  *   `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)`
  *
  * into the native [[Md5Prefix60]] — one digest per row instead of a
  * 32-char hex materialization + substring + base-16 string parse. The
  * repo's own builders call the native expression directly; this rule
  * covers USER-written SQL (`spark.sql(...)` with the documented portable
  * spelling) so the engine optimizes the idiom wherever it appears.
  *
  * Bit-exact by construction: the first 15 hex chars of an md5 are the
  * first 7½ digest bytes big-endian, conv parses them as an unsigned
  * 60-bit value (fits a long), and the final string→long cast is an
  * exact decimal parse — Md5Prefix60 assembles the identical value
  * (Md5Prefix60Spec asserts equality; Md5RewriteSpec asserts it again on
  * the REWRITTEN plan). The match is deliberately narrow: literal
  * (1, 15) substring bounds, literal (16, 10) bases, a long result cast,
  * and a string or binary hash input.
  */
object Md5ChainRewrite extends Rule[LogicalPlan] {

  // the md5 argument, unwrapped: the analyzer inserts Cast(string→binary)
  // under the DataFrame md5() API; raw binary children hash as-is
  private def hashInput(b: Expression): Option[Expression] = b match {
    case Cast(e, BinaryType, _, _) if e.dataType == StringType => Some(e)
    case e if e.dataType == BinaryType => Some(e)
    case _ => None
  }

  private object Chain {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(conv: Conv, LongType, _, _) =>
        conv.children match {
          case Seq(
              Substring(Md5(b), Literal(1, IntegerType),
                Literal(15, IntegerType)),
              Literal(16, IntegerType), Literal(10, IntegerType)) =>
            hashInput(b)
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Chain(input) => Md5Prefix60(input)
    }

  /** Idempotently add the rule to a live session (same hook as
    * [[DotProductRewrite.install]]); [[graft.GraftSession.build]] already
    * does this for every engine session.
    */
  def install(spark: SparkSession): Unit = graft.GraftSession.install(spark, this)
}
