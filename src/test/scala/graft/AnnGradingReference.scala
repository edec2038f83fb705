package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{ArrayMath, Tables}
import graft.engine.sim.Similarity

/** The four ANN recall queries built one operating point at a time: each
  * point generates, scores and grades its own candidate set, and the
  * points are joined by `union`. This is the per-point form the engine's
  * one-pass grading (`Similarity.gradePoints`) replaced, kept as the
  * reference its output must equal row for row. It reads the same shared
  * inputs (sampled truth, cell ranking, LSH signatures, ANN answers) as
  * the engine, or the ones a caller passes (`SimilarityVectorsReference`
  * passes its raw builds). */
object AnnGradingReference {

  /** The shared inputs the four queries grade over. */
  final case class Inputs(
      truth: (SparkSession, String) => DataFrame,
      ranked: (SparkSession, String) => DataFrame,
      sig: (SparkSession, String) => DataFrame,
      answer: (SparkSession, String, String) => DataFrame)

  val engine: Inputs = Inputs(Similarity.sampledTruth, Similarity.cellRankedCached,
    Similarity.lshSignaturesCached, (s, d, q) => SparkEntry.queries(q)(s, d))

  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    Tables.cleanVectors(Tables.embeddings(s, d)).select(
      col("vec_id"), ArrayMath.toDouble(col("embedding")).as("f"), col("label"))
      .withColumn("nrm", ArrayMath.l2Norm(col("f")))
  }

  private def cosine(a: String, b: String, na: String, nb: String) =
    when(col(na) * col(nb) > 0,
      round(ArrayMath.dotNative(col(a), col(b)) / (col(na) * col(nb)), 6)).as("cos")

  private def bestAndCount(cand: DataFrame, v: DataFrame): DataFrame =
    cand
      .join(v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1")), "id1")
      .join(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"), cosine("f1", "f2", "n1", "n2"))
      .groupBy("id1")
      .agg(max(struct(col("cos"), (-col("id2")).as("nid"))).as("m"), count(lit(1)).as("cands"))
      .select(col("id1"), (-col("m.nid")).as("nn_id"), col("cands"))

  private def gradeWithCands(truth: DataFrame, ans: DataFrame): DataFrame =
    truth.join(ans, Seq("id1"), "left")
      .agg(count(lit(1)).as("n_queries"),
        count(col("nn_id")).as("n_answered"),
        sum(when(col("nn_id") === col("true_nn"), 1L).otherwise(0L)).as("n_correct"),
        coalesce(sum("cands"), lit(0L)).as("n_candidates"))
      .select(col("n_queries"), col("n_answered"), col("n_correct"),
        round(col("n_correct") / col("n_queries"), 6).as("recall_at_1"),
        col("n_candidates"))

  def annRecall(in: Inputs)(s: SparkSession, d: String): DataFrame = {
    val truth = in.truth(s, d)
    def rec(name: String): DataFrame = {
      val ans = in.answer(s, d, name).select(col("id1"), col("nn_id"))
      truth.join(ans, Seq("id1"), "left")
        .agg(count(lit(1)).as("n_queries"),
          count(col("nn_id")).as("n_answered"),
          sum(when(col("nn_id") === col("true_nn"), 1L).otherwise(0L)).as("n_correct"))
        .select(lit(name).as("algo"), col("n_queries"), col("n_answered"),
          col("n_correct"), round(col("n_correct") / col("n_queries"), 6).as("recall_at_1"))
    }
    rec("ann_lsh_topk").union(rec("ann_ivf_topk")).orderBy("algo")
  }

  def nprobeSweep(in: Inputs)(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val truth = in.truth(s, d)
    val ranked = in.ranked(s, d)
    val assigned = ranked.filter(col("rn") === 1).select(col("vec_id").as("id2"), col("cell"))
    def point(np: Int): DataFrame = {
      val probes = ranked.filter(col("rn") <= np && col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("cell"))
      val cand = probes.join(assigned, "cell")
        .filter(col("id1") =!= col("id2")).select("id1", "id2")
      gradeWithCands(truth, bestAndCount(cand, v))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"), col("n_answered"),
          col("n_correct"), col("recall_at_1"), col("n_candidates"))
    }
    point(1).union(point(2)).union(point(4)).orderBy("nprobe")
  }

  def lshTablesSweep(in: Inputs)(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val truth = in.truth(s, d)
    val sig = in.sig(s, d)
    val sigq = sig.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("id1"), col("t"), col("sig"))
    val sigAll = sig.select(col("vec_id").as("id2"), col("t"), col("sig"))
    def point(tables: Int): DataFrame = {
      val cand = sigq.filter(col("t") < tables)
        .join(sigAll.filter(col("t") < tables), Seq("t", "sig"))
        .filter(col("id1") =!= col("id2"))
        .select("id1", "id2").distinct()
      gradeWithCands(truth, bestAndCount(cand, v))
        .select(lit(tables.toLong).as("n_tables"), col("n_queries"), col("n_answered"),
          col("n_correct"), col("recall_at_1"), col("n_candidates"))
    }
    point(1).union(point(3)).union(point(5)).orderBy("n_tables")
  }

  def sqRescoreSweep(in: Inputs)(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val truth = in.truth(s, d)
    val qv = v.select(col("vec_id"), col("nrm"), col("f"), expr("abs_max(f)").as("scale"))
      .withColumn("sc", when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")))
      .withColumn("q", expr("quantize_i8(f, sc)"))
    val qq = qv.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("id1"), col("q").as("q1"), col("sc").as("s1"), col("nrm").as("n1"))
    val qc = qv.select(col("vec_id").as("id2"), col("q").as("q2"), col("sc").as("s2"), col("nrm").as("n2"))
    val coarse = broadcast(qq).crossJoin(qc)
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        when(col("n1") * col("n2") > 0, round(ArrayMath.dotNative(col("q1"), col("q2")) * col("s1") * col("s2")
          / (lit(127.0 * 127.0) * col("n1") * col("n2")), 6)).as("qcos"))
    val wq = Window.partitionBy("id1").orderBy(desc("qcos"), col("id2"))
    val rescored = coarse.withColumn("qr", row_number().over(wq))
      .filter(col("qr") <= 16)
      .join(v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("rn1")), "id1")
      .join(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("rn2")), "id2")
      .select(col("id1"), col("id2"), col("qr"), cosine("f1", "f2", "rn1", "rn2"))
      .localCheckpoint(true)
    def point(k: Int): DataFrame = {
      val ans = rescored.filter(col("qr") <= k)
        .groupBy("id1")
        .agg(max(struct(col("cos"), (-col("id2")).as("nid"))).as("m"))
        .select(col("id1"), (-col("m.nid")).as("nn_id"))
      truth.join(ans, Seq("id1"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("nn_id") === col("true_nn"), 1L).otherwise(0L)).as("n_correct"))
        .select(lit(k.toLong).as("rescore_k"), col("n_queries"), col("n_correct"),
          round(col("n_correct") / col("n_queries"), 6).as("recall_at_1"))
    }
    point(1).union(point(4)).union(point(16)).orderBy("rescore_k")
  }

  /** Query name → its per-point reference build over `in`. */
  def queriesOver(in: Inputs): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_recall" -> annRecall(in), "ann_nprobe_sweep" -> nprobeSweep(in),
    "lsh_tables_sweep" -> lshTablesSweep(in), "ann_sq_rescore_sweep" -> sqRescoreSweep(in))

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = queriesOver(engine)

  /** Column names plus every cell, doubles compared by their bits. */
  def table(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToLongBits(x)
      case x => x
    }))

  /** Each of the four declared queries on `d` whose output is empty or
    * differs from its reference in a column name or a cell, shown with
    * both tables. */
  def mismatches(s: SparkSession, d: String): Seq[String] = queries.flatMap { case (q, reference) =>
    val (got, want) = (table(SparkEntry.queries(q)(s, d)), table(reference(s, d)))
    if (got == want && got._2.nonEmpty) None else Some(s"$q:\n$got\nreference:\n$want")
  }
}
