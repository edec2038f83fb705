package graft.engine.expr

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Native codegen'd kernels for the int8-quantization family
  * (`embedding_quantize`, `ann_sq_rescore_sweep`) — the last
  * HOF-embedded per-row vector folds after the n-gram sweep. Each
  * replaces an interpreted 64-iteration lambda with one generated
  * loop; semantics are bit-for-bit the HOF compositions (pinned in
  * SqlAndExprSpec):
  *
  *  - `abs_max(a)` == `aggregate(a, 0.0D, (acc, x) -> greatest(acc,
  *    abs(x)))`: left-to-right, `greatest` SKIPS a null element
  *    (Spark's greatest contract), NaN ranks greatest, seed +0.0 for
  *    the empty array.
  *  - `quantize_i8(a, sc)` == `transform(a, x -> round(x * 127 / sc,
  *    0))`: Spark's ROUND(double, 0) is BigDecimal HALF_UP — the
  *    kernel uses the identical BigDecimal path, and a null element
  *    maps to a null element.
  *  - `quant_sse(a, sc)` == `aggregate(a, 0.0D, (acc, x) -> acc +
  *    (x - round(x*127/sc, 0)*sc/127)²)`: any null element
  *    null-poisons the fold exactly as `acc + NULL` does.
  */
object VecKernels {

  /** Spark's ROUND(x, 0) on DoubleType: BigDecimal HALF_UP. */
  private def round0(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).doubleValue()

  def absMax(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { // greatest skips nulls
        val v = math.abs(a.getDouble(i))
        // Spark's greatest ordering: NaN ranks above everything
        if (java.lang.Double.isNaN(v) || v > acc) acc = v
      }
      i += 1
    }
    acc
  }

  /** Boxed return: null marks a null-poisoned fold (null element). */
  def quantSse(a: ArrayData, sc: Double): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      val e = x - round0(x * 127 / sc) * sc / 127
      acc += e * e
      i += 1
    }
    acc
  }

  def quantizeI8(a: ArrayData, sc: Double): ArrayData = {
    val n = a.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyDoubleArray)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = round0(a.getDouble(i) * 127 / sc); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!a.isNullAt(i)) out(i) = round0(a.getDouble(i) * 127 / sc)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
  /** `vec_has_null_elem(a)`: TRUE iff the array carries a NULL
    * element — reads only the null mask, never the values, so it works
    * on any element type. The codegen'd face of the vector-universe
    * boundary ([[graft.engine.Tables.cleanVectors]]): the equivalent
    * `forall(a, x -> x IS NOT NULL)` HOF is an INTERPRETED lambda
    * (HOFs never enter whole-stage codegen) sitting under every
    * similarity and clustering scan, and it breaks the no-lambda
    * hot-path discipline ScaleShapeSpec pins. */
  def hasNullElem(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
  /** `vec_has_nonfinite_elem(a)`: TRUE iff the array carries a NaN or
    * ±Infinity element (NULL elements are skipped — they are the
    * null-mask gate's job). `isFloat` selects the element accessor at
    * codegen time: float32 tables and float64 projections both sit
    * under this gate. The codegen'd face of the vector universe's
    * FINITENESS clause (round 14): one NaN component turned
    * whole-stage ranking keys into NaN (engine-dependent NaN
    * ordering), fed MLlib its loud "MUST NOT be NaN or Infinity"
    * abort, and an Infinity reached a DECIMAL round as a
    * NumberFormatException — all from a single corrupt float. */
  def hasNonFiniteElem(a: ArrayData, isFloat: Boolean): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v: Double = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return true
      }
      i += 1
    }
    false
  }
}

/** `vec_has_nonfinite_elem(a)` over [[VecKernels.hasNonFiniteElem]]:
  * not a [[Kernel]] row, because the generated call passes the
  * element-type flag as a constant. */
case class VecHasNonFiniteElem(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    Kernels.check(prettyName, Kernels.floatingArray, children)
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "vec_has_nonfinite_elem"
  override def nullSafeEval(a: Any): Any =
    VecKernels.hasNonFiniteElem(a.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.engine.expr.VecKernels.hasNonFiniteElem($a, $isFloat);")
  override protected def withNewChildInternal(newChild: Expression): VecHasNonFiniteElem =
    copy(child = newChild)
}
