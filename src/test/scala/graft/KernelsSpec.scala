package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.engine.expr.{GraftFunctions, Kernel, Kernels}

/** The native kernel table ([[graft.engine.expr.Kernels]]): every
  * registered kernel's type and arity errors, every row's helper
  * method, and the same answers from generated code and from the
  * interpreted (reflection) path.
  */
class KernelsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private val signatures: Map[String, Seq[Kernels.Arg]] =
    Map("sq_dist" -> Kernels.vectorPair, "dot_prod" -> Kernels.vectorPair,
      "vec_has_nonfinite_elem" -> Kernels.floatingArray) ++
      Kernels.rows.map { case (name, row) => name -> row.args }

  // one column or literal per argument slot, and the type of each
  private val sample = Map("array<string>" -> "w", "string" -> "s", "int" -> "2",
    "array<double>" -> "v", "array" -> "v", "array<float|double>" -> "v", "double" -> "1.5D")
  private val typeOf = Map[String, DataType]("b" -> BooleanType, "w" -> ArrayType(StringType),
    "s" -> StringType, "2" -> IntegerType, "v" -> ArrayType(DoubleType), "1.5D" -> DoubleType)

  test("every registered kernel rejects a wrong type and a wrong arity with `<name> expects`") {
    assert(GraftFunctions.descriptors.map(_._1.funcName).toSet == signatures.keySet)
    val df = Seq((true, "a b", Seq(1.0))).toDF("b", "s", "v")
      .selectExpr("b", "s", "v", "split(s, ' ') AS w")
    for ((name, args) <- signatures) {
      val good = args.map(a => sample(a.text))
      // first argument of a wrong type; one argument short; one too many
      for (call <- Seq("b" +: good.tail, good.init, good :+ good.last)) {
        val sql = s"$name(${call.mkString(", ")})"
        val e = intercept[AnalysisException](df.selectExpr(sql).schema)
        val want = s"$name expects ${args.map(_.text).mkString("(", ", ", ")")}, " +
          s"got ${call.map(typeOf(_).simpleString).mkString("(", ", ", ")")}"
        assert(e.getMessage.contains(want), s"$sql: ${e.getMessage}")
      }
    }
  }

  test("every row's helper method resolves and returns the row's type") {
    for ((name, row) <- Kernels.rows) {
      val children = row.args.zipWithIndex.map { case (a, i) =>
        BoundReference(i, typeOf(sample(a.text)), nullable = true)
      }
      val m = Kernel(name, children).call.method
      val rt = m.getReturnType
      val out = CodeGenerator.javaClass(row.out)
      assert(out.isAssignableFrom(rt) || org.apache.commons.lang3.ClassUtils.primitiveToWrapper(out) == rt,
        s"$name: ${m.getName} returns ${rt.getName}, the row declares ${row.out.simpleString}")
      assert(!(row.nullResult && rt.isPrimitive), s"$name: a primitive return is never null")
    }
  }

  private lazy val texts: DataFrame = Seq(
    "the quick brown fox jumps over the lazy dog the quick fox",
    "über straße naïve café",
    "東京 多字节 東京 多字节 words",
    "double  spaced  words",
    "solo",
    "",
    null,
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    .toDF("id", "s").selectExpr("id", "s", "split(s, ' ') AS w")
    .localCheckpoint()

  private lazy val vectors: DataFrame = Seq[(Long, Seq[java.lang.Double])](
    (0L, Seq(1.0, -2.5, 3.25)),
    (1L, Seq(1.0, null, 3.0)),
    (2L, Seq()),
    (3L, null),
    (4L, Seq(Double.NaN, 1.0)),
    (5L, Seq(0.0, -0.0, 63.5)),
    (6L, Seq(Double.PositiveInfinity, -1.0)),
  ).toDF("id", "v").localCheckpoint()

  test("each row returns the same rows and schema under codegen and interpreted") {
    for ((name, row) <- Kernels.rows.toSeq.sortBy(_._1)) {
      val args = row.args.map(a => sample(a.text))
      val input = if (args.exists(a => a == "w" || a == "s")) texts else vectors
      def rows(): (Seq[String], StructType, Boolean) = {
        val df = input.selectExpr("id", s"$name(${args.mkString(", ")}) AS k")
        (df.collect().map(_.toString).toSeq, df.schema,
          df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
      }
      val (genRows, genSchema, genStage) = rows()
      val (intRows, intSchema, intStage) =
        withConf("spark.sql.codegen.wholeStage", "false") {
          withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(rows())
        }
      assert(genStage && !intStage, s"$name: codegen $genStage, interpreted $intStage")
      assert(genRows == intRows, s"$name:\n$genRows\nvs\n$intRows")
      assert(genSchema == intSchema && genSchema("k").dataType == row.out, s"$name: $genSchema")
      if (!genSchema("k").nullable)
        assert(!genRows.exists(_.endsWith(",null]")), s"$name: NULL in a non-nullable column")
    }
  }
}
