package graft.engine.expr

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** A native kernel that is one call of a static helper
  * (`NgramFold.*`, `VecKernels.*`, `FoldHex.fold`): its row in
  * [[Kernels.rows]] names the helper, the argument types and the
  * result type. Evaluation is Spark's own `StaticInvoke` over the
  * children — in generated code a direct static call, interpreted a
  * reflection call — so a NULL argument yields NULL without calling
  * the helper. Plans print the kernel's SQL name,
  * `ngram_fold_ids(w#16, 3, 8)`.
  */
case class Kernel(name: String, children: Seq[Expression]) extends Expression {

  private def row: Kernels.Row = Kernels.rows(name)

  @transient lazy val call: StaticInvoke = StaticInvoke(
    row.owner.getClass, row.out, row.method, children, returnNullable = row.nullResult)

  override def checkInputDataTypes(): TypeCheckResult = Kernels.check(name, row.args, children)
  override def dataType: DataType = row.out
  override def nullable: Boolean = call.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  // the wrapped StaticInvoke reuses one argument buffer per instance
  override def stateful: Boolean = true
  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.doGenCode(ctx, ev)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}

object Kernels {

  /** One argument slot: its text in the type error, and the types it
    * takes (no implicit cast, any nullability). */
  final case class Arg(text: String, accepts: PartialFunction[DataType, Unit])

  val words = Arg("array<string>", { case ArrayType(StringType, _) => })
  val string = Arg("string", { case StringType => })
  val int = Arg("int", { case IntegerType => })
  val vector = Arg("array<double>", { case ArrayType(DoubleType, _) => })
  val double = Arg("double", { case DoubleType => })
  private val array = Arg("array", { case _: ArrayType => })

  /** The argument types of the bespoke kernels. */
  val vectorPair: Seq[Arg] = Seq(vector, vector)
  val floatingArray: Seq[Arg] = Seq(Arg("array<float|double>", {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => }))

  /** `owner.method(args…)` returns `out`; `nullResult` marks a helper
    * that returns null for some non-null input. */
  final case class Row(owner: AnyRef, method: String, args: Seq[Arg], out: DataType,
      nullResult: Boolean = false)

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def arrayOf(t: DataType): ArrayType = ArrayType(t, containsNull = false)

  val rows: Map[String, Row] = Map(
    "fold_hex" -> Row(FoldHex, "fold", Seq(string, int), LongType),
    "ngram_fold_ids" -> Row(NgramFold, "foldIdsSorted", Seq(words, int, int), arrayOf(LongType)),
    "ngram_fold_seq" -> Row(NgramFold, "foldSeq", Seq(words, int, int), arrayOf(LongType)),
    "ngram_md5_set" -> Row(NgramFold, "md5Set", Seq(words, int), arrayOf(StringType)),
    "ngram_strings" -> Row(NgramFold, "ngramStrings", Seq(words, int), arrayOf(StringType)),
    "chunk_fps" -> Row(NgramFold, "chunkFps", Seq(words, int, int),
      arrayOf(struct("n_tok" -> LongType, "fp" -> StringType))),
    // null for an all-null or empty token array
    "minhash8" -> Row(NgramFold, "minhash8", Seq(words, int), arrayOf(LongType), nullResult = true),
    "simhash16" -> Row(NgramFold, "simhash16", Seq(words), LongType),
    "word_stats" -> Row(NgramFold, "wordStats", Seq(words),
      struct("n_tokens" -> LongType, "n_distinct" -> LongType, "top_c" -> LongType)),
    // a null word stays a null field
    "word_bigrams" -> Row(NgramFold, "wordBigrams", Seq(words), arrayOf(StructType(Seq(
      StructField("t1", StringType), StructField("t2", StringType))))),
    "token_pairs" -> Row(NgramFold, "tokenPairs", Seq(words),
      arrayOf(struct("t1" -> StringType, "t2" -> StringType))),
    // null for a doc with no full winnowing window
    "winnow_stats" -> Row(NgramFold, "winnowStats", Seq(words, int, int),
      struct("n_fp" -> LongType, "min_fp" -> LongType, "max_fp" -> LongType), nullResult = true),
    "char_freq" -> Row(NgramFold, "charFreq", Seq(string),
      arrayOf(struct("ch" -> StringType, "c" -> LongType))),
    "char_pair_freq" -> Row(NgramFold, "charPairFreq", Seq(string),
      arrayOf(struct("c1" -> StringType, "c2" -> StringType, "c" -> LongType))),
    // null for the empty string
    "char_entropy_stats" -> Row(NgramFold, "charEntropyStats", Seq(string),
      struct("n_chars" -> LongType, "clc" -> DoubleType), nullResult = true),
    "abs_max" -> Row(VecKernels, "absMax", Seq(vector), DoubleType),
    "quantize_i8" -> Row(VecKernels, "quantizeI8", Seq(vector, double),
      ArrayType(DoubleType, containsNull = true)),
    // null for a null element
    "quant_sse" -> Row(VecKernels, "quantSse", Seq(vector, double), DoubleType, nullResult = true),
    "vec_has_null_elem" -> Row(VecKernels, "hasNullElem", Seq(array), BooleanType))

  private def mismatch(name: String, args: Seq[Arg], children: Seq[Expression]): String =
    s"$name expects ${args.map(_.text).mkString("(", ", ", ")")}, " +
      s"got ${children.map(_.dataType.simpleString).mkString("(", ", ", ")")}"

  /** The one type check of every kernel, bespoke ones included. */
  private[expr] def check(name: String, args: Seq[Arg], children: Seq[Expression]): TypeCheckResult =
    if (args.corresponds(children)((a, c) => a.accepts.isDefinedAt(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(mismatch(name, args, children))

  /** A function-registry entry whose builder rejects a wrong argument
    * count with the same message the type check gives. */
  private[expr] def descriptor(name: String, cls: Class[_], args: Seq[Arg])(
      make: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getCanonicalName, name),
    (children: Seq[Expression]) =>
      if (children.length == args.length) make(children)
      else throw new AnalysisException("DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT", Map(
        "sqlExpr" -> s""""$name(${children.map(_.sql).mkString(", ")})"""",
        "msg" -> mismatch(name, args, children), "hint" -> "")))
}

object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      Kernels.descriptor("sq_dist", classOf[SqDist], Kernels.vectorPair)(c => SqDist(c(0), c(1))),
      Kernels.descriptor("dot_prod", classOf[DotProd], Kernels.vectorPair)(c => DotProd(c(0), c(1))),
      Kernels.descriptor("vec_has_nonfinite_elem", classOf[VecHasNonFiniteElem],
        Kernels.floatingArray)(c => VecHasNonFiniteElem(c(0)))) ++
    Kernels.rows.toSeq.map { case (name, row) =>
      Kernels.descriptor(name, classOf[Kernel], row.args)(Kernel(name, _))
    }

  /** Registers every kernel and [[FuseVectorKernels]] on a live
    * session; idempotent. */
  def register(s: SparkSession): Unit = {
    descriptors.foreach {
      case (id, info, builder) =>
        s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!s.experimental.extraOptimizations.contains(FuseVectorKernels))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ FuseVectorKernels
  }
}
