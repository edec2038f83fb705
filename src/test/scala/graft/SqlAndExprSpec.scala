package graft

import org.apache.spark.sql.functions._
import graft.engine.{SqlSurface, Tables}
import graft.engine.expr.GraftFunctions
import graft.engine.cluster.Indices

/** SQL surface, CSV ingestion parity, and the native sq_dist
  * expression (value parity with the higher-order-function form, and
  * SQL availability after registration).
  */
class SqlAndExprSpec extends SparkSpec {

  test("json extraction legs: strict from_json vs lenient try_cast on adversarial props") {
    // pins the probed case table behind q_json_fns' oracle parity
    // (the oracle's json_type/regex gates mirror EXACTLY these
    // outcomes) — and the ANSI-crash fix: a plain cast of
    // get_json_object's '5.7' THROWS under Spark 4's default ANSI
    // mode, so a revert of try_cast fails this test loudly
    import spark.implicits._
    val cases = Seq(
      ("""{"k": 5}""", Some(5), Some(5)),
      ("""{"k": 5.7}""", None, None),
      ("""{"k": "5"}""", None, Some(5)),
      ("""{"k": "x"}""", None, None),
      ("""{"a": 1}""", None, None),
      ("not json", None, None),
      ("""{"k": 5.0}""", None, None),
      ("""{"k": -3}""", Some(-3), Some(-3)),
      // int32 overflow: a JSON integer TOKEN that passes both oracle
      // gates (json_type BIGINT; integer regex) — both legs must go
      // NULL (from_json PERMISSIVE drops the field; try_cast nulls),
      // and the oracle's final TRY_CAST (not CAST) mirrors that
      // instead of aborting the whole DuckDB query
      ("""{"k": 9999999999}""", None, None),
      ("""{"k": "9999999999"}""", None, None))
    val got = cases.map(_._1).toDF("props")
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .withColumn("gk", expr("try_cast(get_json_object(props, '$.k') AS int)"))
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int])))
    assert(got.toSeq == cases, s"json leg semantics drifted:\n${got.toSeq}\nvs\n$cases")
  }

  test("spark.sql over registered views matches the DataFrame query") {
    val viaSql = SqlSurface.sql(spark, sf0001,
      """SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect()
    val viaDf = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag").agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag").collect()
    assert(viaSql.toSeq == viaDf.toSeq)
  }

  test("points view is SQL-reachable") {
    val n = SqlSurface.sql(spark, sf0001,
      "SELECT COUNT(*) FROM points WHERE size(features) = 64").head().getLong(0)
    assert(n == 500)
  }

  test("CSV ingestion parity: same WSSSE as parquet path") {
    import spark.implicits._
    val dir = graft.engine.TempDirs.scratch("graft-csv")
    // dump embeddings as headerless CSV: id;label;f0..f63
    Tables.points(spark, sf0001)
      .select(col("vec_id"), col("cluster"),
        concat_ws(";", (0 until 64).map(i => col("features")(i)): _*).as("fs"))
      .select(concat_ws(";", col("vec_id"), col("cluster"), col("fs")))
      .coalesce(1).write.mode("overwrite").text(s"$dir/pts.csv")
    val fromCsv = Tables.pointsFromCsv(spark, s"$dir/pts.csv", sep = ";", idCol = true)
    // column 2 (first feature slot) is the cluster label here
    val pts = fromCsv.select(
      col("vec_id"),
      expr("slice(features, 2, 64)").as("features"),
      col("features").getItem(0).cast("int").as("cluster"))
    val wCsv = Indices.profile(pts).wssse.get
    val wPq = Indices.profile(Tables.points(spark, sf0001)).wssse.get
    assert(math.abs(wCsv - wPq) < 1e-6, s"csv=$wCsv parquet=$wPq")
  }

  test("native sq_dist === aggregate(zip_with(...)) and works from SQL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.5, 0.0, -1.0)),
      (Seq(0.0, 0.0), Seq(3.0, 4.0)),
    ).toDF("a", "b")
    val native = df.select(call_function("sq_dist", col("a"), col("b"))).as[Double].collect()
    val hof = df.select(graft.engine.ArrayMath.sqDist(col("a"), col("b"))).as[Double].collect()
    assert(native.toSeq == hof.toSeq)
    assert(native(1) == 25.0)
    // mismatched lengths: NULL (matching the HOF form), never a
    // plausible partial sum
    val mism = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0))).toDF("a", "b")
      .select(call_function("sq_dist", col("a"), col("b")).as("d"))
      .collect()
    assert(mism(0).isNullAt(0), s"expected NULL for length mismatch, got ${mism(0)}")
    df.createOrReplaceTempView("sqd_t")
    val viaSql = spark.sql("SELECT sq_dist(a, b) FROM sqd_t ORDER BY 1").as[Double].collect()
    assert(viaSql.toSeq == native.toSeq.sorted)
  }

  test("native expressions surface NULL for null array elements (no silent 0)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val out = df.select(
      call_function("sq_dist", col("a"), col("b")).as("d"),
      call_function("dot_prod", col("a"), col("b")).as("p")).collect()(0)
    assert(out.isNullAt(0) && out.isNullAt(1),
      s"null element must surface as NULL, got $out")
  }

  test("approx_count_distinct (q_agg_approx) is within its HLL error bound") {
    // the declared query is rows-only at the oracle (HLL hashes are
    // engine-specific); the accuracy CONTRACT lives here — default
    // rsd 0.05, assert a conservative 3σ ≈ 15% per group
    val exact = graft.SparkEntry.queries("q_agg_distinct")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = graft.SparkEntry.queries("q_agg_approx")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, est) =>
      val truth = exact(k).toDouble
      assert(math.abs(est - truth) / truth <= 0.15,
        s"suppkey $k: approx $est vs exact $truth beyond 15%")
    }
  }

  test("native sq_dist on the real embeddings matches WSSSE pipeline values") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val pts = Tables.points(spark, sf0001).limit(50).cache()
    val viaNative = pts.as("x").crossJoin(pts.as("y"))
      .select(call_function("sq_dist", col("x.features"), col("y.features")).as("d"))
      .agg(sum("d")).head().getDouble(0)
    val viaHof = pts.as("x").crossJoin(pts.as("y"))
      .select(graft.engine.ArrayMath.sqDist(col("x.features"), col("y.features")).as("d"))
      .agg(sum("d")).head().getDouble(0)
    assert(viaNative == viaHof)
  }

  test("FuseVectorKernels rewrites the HOF forms to sq_dist/dot_prod, results identical") {
    graft.engine.expr.GraftFunctions.register(spark)
    val v = Tables.points(spark, sf0001).limit(30)
      .select(col("vec_id"), col("features").as("f")).cache()
    val pairs = v.as("a").crossJoin(v.as("b"))
    // HOF form → optimizer must swap in the native kernel
    val fusedSq = pairs.select(graft.engine.ArrayMath.sqDist(col("a.f"), col("b.f")).as("d"))
    assert(fusedSq.queryExecution.optimizedPlan.toString.contains("sq_dist"),
      s"sq-dist HOF did not fuse:\n${fusedSq.queryExecution.optimizedPlan}")
    val fusedDot = pairs.select(graft.engine.ArrayMath.dot(col("a.f"), col("b.f")).as("d"))
    assert(fusedDot.queryExecution.optimizedPlan.toString.contains("dot_prod"),
      s"dot HOF did not fuse:\n${fusedDot.queryExecution.optimizedPlan}")
    // bit-identical to the explicitly-native path (same IEEE order)
    val viaNative = pairs
      .select(call_function("sq_dist", col("a.f"), col("b.f")).as("d"))
      .agg(sum("d")).head().getDouble(0)
    assert(fusedSq.agg(sum("d")).head().getDouble(0) == viaNative)
    // a non-matching shape must NOT fuse: (y - x) * (x - y) is a
    // negated square, not this kernel
    val negated = pairs.select(aggregate(
      zip_with(col("a.f"), col("b.f"), (x, y) => (y - x) * (x - y)),
      lit(0.0), (acc, x) => acc + x).as("d"))
    assert(!negated.queryExecution.optimizedPlan.toString.contains("sq_dist"),
      "negated-square shape must be left untouched")
    // -0.0 seed: HOF returns the SEED for empty arrays, so fusing
    // would flip its sign bit — the raw-bits guard must reject it
    val negZero = pairs.select(aggregate(
      zip_with(col("a.f"), col("b.f"), (x, y) => (x - y) * (x - y)),
      lit(-0.0), (acc, x) => acc + x).as("d"))
    assert(!negZero.queryExecution.optimizedPlan.toString.contains("sq_dist"),
      "-0.0 seed must not fuse")
  }

  test("FuseVectorKernels rewrites Σ x·x (l2Norm's fold) to dot_prod(a, a)") {
    graft.engine.expr.GraftFunctions.register(spark)
    val v = Tables.points(spark, sf0001).limit(30)
      .select(col("vec_id"), col("features").as("f"))
    val fused = v.select(graft.engine.ArrayMath.l2Norm(col("f")).as("n"))
    assert(fused.queryExecution.optimizedPlan.toString.contains("dot_prod"),
      s"self-energy fold did not fuse:\n${fused.queryExecution.optimizedPlan}")
    // bit-identical to the explicit native form (same multiplies,
    // same left-to-right accumulation)
    val viaNative = v.select(sqrt(call_function("dot_prod", col("f"), col("f"))).as("n"))
      .agg(sum("n")).head().getDouble(0)
    assert(fused.agg(sum("n")).head().getDouble(0) == viaNative)
    // x·x with DIFFERENT variables (a zip_with) is the dot kernel's
    // job; a transform whose body is not a self-product must not fuse
    val cube = v.select(aggregate(transform(col("f"), x => x * x * x),
      lit(0.0), (acc, x) => acc + x).as("n"))
    assert(!cube.queryExecution.optimizedPlan.toString.contains("dot_prod"),
      "non-square transform body must be left untouched")
  }

  test("abs_max / quantize_i8 / quant_sse equal their HOF compositions") {
    graft.engine.expr.GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(
      (0L, Seq(0.1, -2.5, 2.49, 0.0)),
      (1L, Seq(-0.5, 0.5, 1.5, -1.5)),           // HALF_UP ties
      (2L, Seq(0.0, 0.0, 0.0)),                   // all-zero (sc guard)
      (3L, Seq(1e-9, -1e9, 123.456)),
      (4L, Seq.empty[Double]),
    ).toDF("id", "f")
      .withColumn("scale", expr("abs_max(f)"))
      .withColumn("sc", when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")))
    val bad = rows.select(col("id"),
        expr("abs_max(f)").as("am"),
        expr("aggregate(f, 0.0D, (a, x) -> greatest(a, abs(x)))").as("amH"),
        expr("quantize_i8(f, sc)").as("q"),
        expr("transform(f, x -> round(x * 127 / sc, 0))").as("qH"),
        expr("quant_sse(f, sc)").as("e"),
        expr("""aggregate(f, 0.0D, (a, x) ->
          |  a + (x - round(x * 127 / sc, 0) * sc / 127)
          |    * (x - round(x * 127 / sc, 0) * sc / 127))""".stripMargin).as("eH"))
      .filter(!(col("am") <=> col("amH")) || !(col("q") <=> col("qH"))
        || !(col("e") <=> col("eH"))) // null-safe: a NULL kernel result must FAIL
      .collect()
    assert(bad.isEmpty, s"quantize kernels diverged: ${bad.mkString("; ")}")
    // null element: abs_max skips (greatest semantics), quantize_i8
    // maps to a null slot, quant_sse null-poisons the fold
    val wn = Seq((0L, Seq[java.lang.Double](1.0, null, 2.0))).toDF("id", "f")
      .selectExpr("id", "CAST(f AS ARRAY<DOUBLE>) AS f")
      .withColumn("sc", lit(2.0))
    val r = wn.select(expr("abs_max(f)").as("am"),
      expr("aggregate(f, 0.0D, (a, x) -> greatest(a, abs(x)))").as("amH"),
      expr("quantize_i8(f, sc)").as("q"),
      expr("transform(f, x -> round(x * 127 / sc, 0))").as("qH"),
      expr("quant_sse(f, sc)").as("e")).head()
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getSeq[Any](2) == r.getSeq[Any](3))
    assert(r.isNullAt(4), "null element must null-poison quant_sse")
  }

  test("vec_has_nonfinite_elem ≡ the HOF exists-form on float AND double arrays, NULLs skipped") {
    import spark.implicits._
    graft.engine.expr.GraftFunctions.register(spark)
    val rows = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f, -3.5f)),                        // finite
      (2L, Seq[java.lang.Float](1.0f, java.lang.Float.NaN, 2.0f)),          // NaN
      (3L, Seq[java.lang.Float](java.lang.Float.POSITIVE_INFINITY, 0f)),    // +Inf
      (4L, Seq[java.lang.Float](0f, java.lang.Float.NEGATIVE_INFINITY)),    // -Inf
      (5L, Seq[java.lang.Float](1.0f, null, 2.0f)),                         // NULL elem: skipped
      (6L, null)                                                            // NULL array → NULL
    ).toDF("id", "f").selectExpr("id", "CAST(f AS ARRAY<FLOAT>) AS f")
    Seq("f", "CAST(f AS ARRAY<DOUBLE>)").foreach { c =>
      val bad = rows.selectExpr("id",
        s"vec_has_nonfinite_elem($c) AS k",
        // x IS NOT NULL inside the lambda: bare isnan(NULL) is NULL and
        // exists' three-valued logic would return NULL where the kernel
        // SKIPS null elements — the guard states the skip explicitly
        s"exists($c, x -> x IS NOT NULL AND (isnan(x) OR abs(x) = double('inf'))) AS h")
        .filter(!(col("k") <=> col("h"))).collect()
      assert(bad.isEmpty, s"kernel diverged from HOF mirror on $c: ${bad.mkString(";")}")
      val got = rows.selectExpr("id", s"vec_has_nonfinite_elem($c) AS k")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
      assert(got(1L) == false && got(2L) == true && got(3L) == true
        && got(4L) == true && got(5L) == false && got(6L) == null, s"wrong verdicts on $c: $got")
    }
  }

  test("spliceCte: case-insensitive WITH, metachar-safe CTE text, loud WITH RECURSIVE") {
    // Round-13 ADVICE: replaceFirst-based splicing corrupted CTEs
    // containing '$' (JSON paths) or '\' (regexes) and double-WITHed a
    // lowercase `with` oracle. Pinned here on the shared splice.
    import graft.engine.Tables.spliceCte
    val metachar = """d AS (SELECT '$.k' AS p, '\d+' AS re)"""
    assert(spliceCte("SELECT 1", metachar) == s"WITH $metachar\nSELECT 1",
      "CTE text must pass through byte-identical (no regex replacement semantics)")
    assert(spliceCte("with x AS (SELECT 2) SELECT * FROM x", metachar) ==
      s"WITH $metachar,\nx AS (SELECT 2) SELECT * FROM x",
      "a lowercase `with` oracle must splice, not gain a second WITH")
    assert(spliceCte("  WITH x AS (SELECT 2) SELECT 3", "g AS (SELECT 1)") ==
      "  WITH g AS (SELECT 1),\nx AS (SELECT 2) SELECT 3",
      "leading whitespace must be preserved")
    intercept[IllegalArgumentException] {
      spliceCte("WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r", "g AS (SELECT 1)")
    }
    intercept[IllegalArgumentException] { // case-insensitive rejection too
      spliceCte("with recursive r AS (SELECT 1) SELECT * FROM r", "g AS (SELECT 1)")
    }
  }

  test("q_recursive_hierarchy: depth = decimal digits − 1, root = leading digit") {
    val rows = graft.engine.rel.RelQueries.queries("q_recursive_hierarchy")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, depth, root) =>
      assert(depth == math.max(id.toString.length - 1, 0), s"depth wrong for $id")
      assert(root == id.toString.head.asDigit.toLong, s"root wrong for $id")
    }
  }
}
