package graft.engine.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: fuse the PORTABLE higher-order-function vector
  * kernels into the native codegen'd expressions —
  *
  *   aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, (acc,x) -> acc+x)
  *     ==> sq_dist(a, b)            [[SqDist]]
  *   aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)
  *     ==> dot_prod(a, b)           [[DotProd]]
  *
  * The altitude argument: users (and the engine's own [[graft.engine.ArrayMath]])
  * write the declarative HOF form — portable, oracle-expressible —
  * and the optimizer swaps in the fused loop (no per-row 64-element
  * array allocation, no interpreted lambdas) exactly where the shapes
  * and types prove the swap safe. The rewrite preserves semantics
  * bit-for-bit: identical IEEE accumulation order (left-to-right), and
  * the native kernels surface NULL on length mismatch or null
  * elements exactly as the zip_with→aggregate composition does
  * (pinned in SqlAndExprSpec).
  *
  * Guards: both inputs must be array<double> (the float→double cast
  * already materialized), the zero must be literal 0.0, the merge a
  * pure `acc + x` over its own lambda variables, the finish the
  * identity — anything else (ANSI interval types, reordered lambda
  * args, a different seed) is left untouched.
  *
  * Injection: [[GraftFunctions.register]] adds it to
  * `spark.experimental.extraOptimizations` on a live session.
  */
object FuseVectorKernels extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Raw-bits check: Scala's `==` would also match a -0.0 seed, and
    * for EMPTY arrays the HOF form returns the seed itself — fusing a
    * -0.0 seed would flip that sign bit (SqDist returns +0.0). */
  private def isZero(e: Expression): Boolean = e match {
    case Literal(v: Double, DoubleType) =>
      java.lang.Double.doubleToRawLongBits(v) == 0L
    case _ => false
  }

  /** merge must be (acc, x) -> acc + x over the lambda's OWN vars. */
  private def isSumMerge(merge: Expression): Boolean = merge match {
    case LambdaFunction(
        Add(a: NamedLambdaVariable, x: NamedLambdaVariable, _),
        Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
      a.exprId == p1.exprId && x.exprId == p2.exprId
    case _ => false
  }

  /** finish must be the identity lambda v -> v. */
  private def isIdentity(fin: Expression): Boolean = fin match {
    case LambdaFunction(v: NamedLambdaVariable,
        Seq(p: NamedLambdaVariable), _) => v.exprId == p.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // (x - y) * (x - y): both factors must subtract the SAME pair in
    // the SAME order (x-y times y-x would be a negated square — not
    // this shape)
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(
          Multiply(
            Subtract(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
            Subtract(x2: NamedLambdaVariable, y2: NamedLambdaVariable, _), _),
          Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _)),
        zero, merge, fin)
      if isDoubleArray(a) && isDoubleArray(b) && isZero(zero)
        && isSumMerge(merge) && isIdentity(fin)
        && x1.exprId == p1.exprId && y1.exprId == p2.exprId
        && x2.exprId == p1.exprId && y2.exprId == p2.exprId =>
      SqDist(a, b)

    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(
          Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
          Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _)),
        zero, merge, fin)
      if isDoubleArray(a) && isDoubleArray(b) && isZero(zero)
        && isSumMerge(merge) && isIdentity(fin)
        && x.exprId == p1.exprId && y.exprId == p2.exprId =>
      DotProd(a, b)

    // Σ x·x — the L2-norm / self-energy fold (ArrayMath.l2Norm's
    // inner aggregate, the base projection of EVERY similarity
    // query): Σᵢ aᵢ·aᵢ IS dot_prod(a, a) — same multiplies, same
    // left-to-right IEEE accumulation, same NULL surface — so the
    // fuse needs no third kernel
    case ArrayAggregate(
        ArrayTransform(a, LambdaFunction(
          Multiply(x1: NamedLambdaVariable, x2: NamedLambdaVariable, _),
          Seq(p: NamedLambdaVariable), _)),
        zero, merge, fin)
      if isDoubleArray(a) && isZero(zero)
        && isSumMerge(merge) && isIdentity(fin)
        && x1.exprId == p.exprId && x2.exprId == p.exprId =>
      DotProd(a, a)
  }
}
