package graft.engine.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: fused dot product over two
  * `array<double>` columns, with `doGenCode` — sibling of [[SqDist]]
  * (same design notes apply: one generated loop, no intermediate array
  * allocation, identical IEEE operation order to
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0d, _ + _)`).
  *
  * This is the hot kernel of ANN candidate scoring: at sf0.1 the LSH
  * bucket join yields millions of candidate pairs, each scored with a
  * 64-term dot product — the HOF form allocates a 64-element array per
  * pair; this form doesn't.
  */
case class DotProd(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Kernels.check(prettyName, Kernels.vectorPair, children)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_prod"

  override def nullable: Boolean = true

  /** Mismatched lengths — or a null element on either side — yield
    * NULL, the same surfacing behavior as the HOF form, so a
    * dimension-mismatch or null-element bug can never produce a
    * plausible partial sum. */
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
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProd =
    copy(left = newLeft, right = newRight)
}
