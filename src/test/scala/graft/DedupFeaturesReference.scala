package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Fan, Tables}
import graft.engine.text.TextOps

/** The dedup family's per-doc artifacts built one at a time: each
  * artifact scans and splits the documents on its own, and the 8-gram
  * set runs a global `distinct()` and the post-shuffle re-fan. This is
  * the form the engine's single per-doc feature checkpoint
  * (`TextOps.docFeatures`) and its distinct-free 8-gram set replaced,
  * kept as the reference their views must equal row for row. */
object DedupFeaturesReference {

  private def docsF(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    Fan.docs(Tables.documents(s, d), d)
  }

  private def foldWidth(s: SparkSession): Int = s.conf.get("graft.text.foldHexDigits", "8").toInt

  def distinctTokens(s: SparkSession, d: String): DataFrame =
    docsF(s, d).select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))

  def docTokenArrays(s: SparkSession, d: String): DataFrame =
    docsF(s, d).select(col("doc_id"), sort_array(array_distinct(split(col("text"), " "))).as("arr"))

  def docTrigramIdArrays(s: SparkSession, d: String): DataFrame =
    docsF(s, d).select(col("doc_id"), split(col("text"), " ").as("w0"))
      .filter(size(col("w0")) >= 3)
      .select(col("doc_id"), expr(s"ngram_fold_ids(w0, 3, ${foldWidth(s)})").as("arr"))

  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    docsF(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), expr(s"minhash8(split(text, ' '), ${foldWidth(s)})").as("mh"))
      .select(col("doc_id") +: (0 until 8).map(i => col("mh").getItem(i).as(s"m$i")): _*)

  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    docsF(s, d).select(col("doc_id"), expr("simhash16(split(text, ' '))").as("simhash"))

  def ngramSet(s: SparkSession, d: String, n: Int, keep: Seq[String]): DataFrame =
    Fan.postShuffle(docsF(s, d).select(keep.map(col) :+ split(col("text"), " ").as("w"): _*)
      .select(keep.map(col) :+ explode(expr(s"ngram_strings(w, $n)")).as("ng"): _*)
      .distinct())

  private val ngramKeep = Seq("doc_id", "source")

  /** Artifact name → (engine view, reference build). */
  val artifacts: Seq[(String, (SparkSession, String) => DataFrame, (SparkSession, String) => DataFrame)] = Seq(
    ("distinctTokens", TextOps.distinctTokens, distinctTokens),
    ("docTokenArrays", TextOps.docTokenArrays, docTokenArrays),
    ("docTrigramIdArrays", TextOps.docTrigramIdArrays, docTrigramIdArrays),
    ("minhashSignatures", TextOps.minhashSignatures, minhashSignatures),
    ("simhashSignatures", (s, d) => TextOps.docFeatures(s, d).select("doc_id", "simhash"), simhashSignatures),
    ("ngram8", (s, d) => TextOps.ngramSetCached(s, d, 8, ngramKeep), (s, d) => ngramSet(s, d, 8, ngramKeep)))

  /** Column names plus every row, in a canonical order: the views and
    * the references differ only in how rows land in partitions. */
  private def table(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toString).sorted)

  /** Each artifact on `d` whose view differs from its reference in a
    * column name or a row, plus any (doc_id, ng) row the 8-gram set
    * holds twice. */
  def mismatches(s: SparkSession, d: String): Seq[String] = {
    val diffs = artifacts.flatMap { case (name, view, reference) =>
      val (got, want) = (table(view(s, d)), table(reference(s, d)))
      if (got == want) None
      else Some(s"$name: ${got._2.size} rows vs ${want._2.size}; " +
        s"columns ${got._1} vs ${want._1}; view only ${got._2.diff(want._2).take(5)}; " +
        s"reference only ${want._2.diff(got._2).take(5)}")
    }
    val dup = TextOps.ngramSetCached(s, d, 8, ngramKeep)
      .groupBy("doc_id", "ng").count().filter(col("count") > 1).take(3)
    diffs ++ dup.map(r => s"ngram8 holds (doc_id, ng) = (${r.get(0)}, ${r.get(1)}) ${r.getLong(2)} times")
  }
}
