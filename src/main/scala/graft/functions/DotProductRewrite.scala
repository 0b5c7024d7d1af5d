package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
  ArrayTransform, Expression, LambdaFunction, Literal, Multiply,
  NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: rewrite the higher-order-function dot product
  *
  *   `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)`
  *
  * (and the self-product norm form over `transform(v, x -> x * x)`) into
  * the native codegen'd [[DotProduct]] — one fused loop instead of a
  * materialized intermediate array plus per-element lambda dispatch.
  *
  * Safe by construction: both forms fold left-to-right in double with
  * identical null semantics (null element / null array / length mismatch
  * → null; empty → 0.0 — lengths can't mismatch in the self-product
  * case), so the rewrite is BIT-exact (VectorFunctionsSpec asserts it,
  * DotRewriteSpec re-asserts on the rewritten plan). The match is
  * deliberately narrow: double arrays only, a literal +0.0 seed, pure
  * two-variable product and sum lambdas, identity finish.
  *
  * Charter rung (c): a `Rule[LogicalPlan]` delivered both ways —
  * [[graft.GraftSession.build]] installs it through
  * `spark.experimental.extraOptimizations`, and [[graft.GraftExtensions]]
  * injects it via `spark.sql.extensions` into sessions built elsewhere.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  // Rewrite only when the array operand is an attribute (or a trivial
  // wrapper over one): DotProduct(v, v) evaluates its child per
  // reference, and higher-order children are CodegenFallback — outside
  // common-subexpression elimination — so duplicating a computed array
  // (e.g. transform(col, cast)) DOUBLES its cost instead of fusing it
  // (measured 1.8× slower on the ANN/near-dup bench before this guard).
  private def isCheap(e: Expression): Boolean = e match {
    case _: org.apache.spark.sql.catalyst.expressions.Attribute => true
    case a: org.apache.spark.sql.catalyst.expressions.Alias =>
      isCheap(a.child)
    case _ => false
  }

  // exactly +0.0: a -0.0 seed would flip the sign of an all-(-0.0) fold
  private def isPlusZero(e: Expression): Boolean = e match {
    case Literal(d: Double, DoubleType) =>
      java.lang.Double.doubleToRawLongBits(d) == 0L
    case _ => false
  }

  // (x, y) -> x * y over exactly the two lambda variables (either order —
  // IEEE multiplication is bitwise commutative)
  private def isPairProduct(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(a: NamedLambdaVariable,
        b: NamedLambdaVariable, _),
        Seq(v1: NamedLambdaVariable, v2: NamedLambdaVariable), _) =>
      Set(a.exprId, b.exprId) == Set(v1.exprId, v2.exprId) &&
        a.exprId != b.exprId
    case _ => false
  }

  // x -> x * x over the single lambda variable
  private def isSelfProduct(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(a: NamedLambdaVariable,
        b: NamedLambdaVariable, _), Seq(v: NamedLambdaVariable), _) =>
      a.exprId == v.exprId && b.exprId == v.exprId
    case _ => false
  }

  // (acc, v) -> acc + v (either order — IEEE addition is bitwise
  // commutative for the finite values a product fold produces)
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
      case ArrayAggregate(ZipWith(l, r, prod), zero, merge, finish)
          if isDoubleArray(l) && isDoubleArray(r) && isPairProduct(prod) &&
            isPlusZero(zero) && isSum(merge) && isIdentity(finish) &&
            isCheap(l) && isCheap(r) =>
        DotProduct(l, r)
      case ArrayAggregate(ArrayTransform(v, sq), zero, merge, finish)
          if isDoubleArray(v) && isSelfProduct(sq) &&
            isPlusZero(zero) && isSum(merge) && isIdentity(finish) &&
            isCheap(v) =>
        DotProduct(v, v)
    }

  /** Idempotently add the rule to a live session's extra optimizations
    * (the optimizer's user-provided batch) through
    * [[graft.GraftSession.install]]; [[graft.GraftSession.build]] already
    * does this for every engine session.
    */
  def install(spark: SparkSession): Unit = graft.GraftSession.install(spark, this)
}
