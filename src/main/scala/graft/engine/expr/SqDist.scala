package graft.engine.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: fused squared-Euclidean distance over
  * two `array<double>` columns, with `doGenCode` — a single generated
  * loop, no intermediate array allocation (SURVEY.md §4.3's "optional
  * hardening" made real; preference order (b) from the build brief:
  * custom Expression before custom physical operator).
  *
  * Versus `aggregate(zip_with(a, b, …))`: the higher-order-function
  * form allocates a 64-element array per row pair and interprets two
  * lambdas; this compiles to `for (i) { t = a[i]-b[i]; acc += t*t }`
  * inside whole-stage codegen. Same numeric result (identical IEEE
  * operation order).
  */
case class SqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Kernels.check(prettyName, Kernels.vectorPair, children)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"

  override def nullable: Boolean = true

  /** Mismatched lengths — or a null element on either side — yield
    * NULL, the same surfacing behavior as the HOF form (`zip_with`
    * pads with null → aggregate → NULL), so a dimension-mismatch or
    * null-element bug can never produce a plausible partial sum. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val t = x.getDouble(i) - y.getDouble(i)
        acc += t * t
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $t = $x.getDouble($i) - $y.getDouble($i);
         |    $acc += $t * $t;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}
