package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
  ElementAt, Expression, LambdaFunction, Literal, Multiply,
  NamedLambdaVariable, Subtract, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Optimizer rule for the PQ hot path (optimization r18, guide §1.2 step
  * 2 / §4.1 "prefer codegen-friendly expressions"): rewrite the two
  * higher-order folds the product-quantization family evaluates per row —
  *
  *   squared L2: `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, _+_)`
  *   ADC lookup: `aggregate(zip_with(codes, dtab, (c,ds) -> element_at(ds, c+1)), 0.0, _+_)`
  *
  * — into the native [[SqDistFold]] / [[AdcFold]] expressions: one fused
  * loop instead of materialized zip arrays plus per-element interpreted
  * lambda dispatch. Both rewrites are BIT-exact (same left-to-right IEEE
  * fold, same null/out-of-bound semantics — PqFoldRewriteSpec asserts
  * exact equality on the rewritten plans), so oracle-hashed queries are
  * unchanged in value.
  *
  * Unlike [[DotProductRewrite]] no operand-cheapness guard is needed:
  * the two operands are DISTINCT children, each evaluated exactly once by
  * the fused expression — there is no duplicated-subtree case.
  *
  * The ADC rewrite only fires on the exact non-ANSI `element_at` shape
  * the engine generates (failOnError=false, no default) — an ANSI-mode
  * element_at throws on out-of-bounds where the fused form yields null,
  * so that shape is left alone.
  */
object PqFoldRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def isIntArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  private def isDoubleArrayArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }

  // exactly +0.0 (a -0.0 seed would flip the sign of an all-(-0.0) fold)
  private def isPlusZero(e: Expression): Boolean = e match {
    case Literal(d: Double, DoubleType) =>
      java.lang.Double.doubleToRawLongBits(d) == 0L
    case _ => false
  }

  // (x, y) -> (x-y)*(x-y): both factors the IDENTICAL subtraction over the
  // two lambda variables (either orientation — (x-y) and (y-x) square to
  // bitwise-identical products)
  private def isSqDiff(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(
        Subtract(a1: NamedLambdaVariable, b1: NamedLambdaVariable, _),
        Subtract(a2: NamedLambdaVariable, b2: NamedLambdaVariable, _), _),
        Seq(v1: NamedLambdaVariable, v2: NamedLambdaVariable), _) =>
      a1.exprId == a2.exprId && b1.exprId == b2.exprId &&
        Set(a1.exprId, b1.exprId) == Set(v1.exprId, v2.exprId) &&
        a1.exprId != b1.exprId
    case _ => false
  }

  // (code, ds) -> element_at(ds, code + 1) in the engine's non-ANSI shape
  private def isAdcLookup(f: Expression): Boolean = f match {
    case LambdaFunction(
        ElementAt(ds: NamedLambdaVariable,
          Add(code: NamedLambdaVariable, Literal(1, IntegerType), _),
          None, false),
        Seq(v1: NamedLambdaVariable, v2: NamedLambdaVariable), _) =>
      code.exprId == v1.exprId && ds.exprId == v2.exprId
    case _ => false
  }

  // (acc, v) -> acc + v (either order — IEEE addition is bitwise
  // commutative for the finite values these folds produce)
  private def isSum(f: Expression): Boolean = f match {
    case LambdaFunction(Add(a: NamedLambdaVariable,
        b: NamedLambdaVariable, _),
        Seq(v1: NamedLambdaVariable, v2: NamedLambdaVariable), _) =>
      Set(a.exprId, b.exprId) == Set(v1.exprId, v2.exprId) &&
        a.exprId != b.exprId
    case _ => false
  }

  // acc -> acc (the implicit finish of the 3-argument aggregate() form)
  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable,
        Seq(v: NamedLambdaVariable), _) => body.exprId == v.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(l, r, diff), zero, merge, finish)
          if isDoubleArray(l) && isDoubleArray(r) && isSqDiff(diff) &&
            isPlusZero(zero) && isSum(merge) && isIdentity(finish) =>
        SqDistFold(l, r)
      case ArrayAggregate(ZipWith(c, t, look), zero, merge, finish)
          if isIntArray(c) && isDoubleArrayArray(t) && isAdcLookup(look) &&
            isPlusZero(zero) && isSum(merge) && isIdentity(finish) =>
        AdcFold(c, t)
    }

  /** Idempotently add the rule to a live session (same hook as
    * [[DotProductRewrite.install]]); [[graft.GraftSession.build]] already
    * does this for every engine session.
    */
  def install(spark: SparkSession): Unit = graft.GraftSession.install(spark, this)
}
