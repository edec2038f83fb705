package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.text.TextOps

/** The rarest-first PPJoin prefix ranked over EVERY element, df = 1
  * singletons included, then restricted to the elements with df ≥ 2.
  * This is the form `TextOps.prefixRanks` replaced (it never ships a
  * singleton and offsets each rank by the doc's singleton count), kept
  * as the reference its `(doc_id, elem, rn, n)` rows must equal. */
object PrefixRanksReference {

  def prefixRanks(sets: DataFrame, prefixLen: Column => Column): DataFrame = {
    val ex = sets.select(col("doc_id"), size(col("arr")).cast("long").as("n"),
      explode(col("arr")).as("elem"))
    val dfreq = ex.groupBy("elem").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "elem")
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("df", "elem")).cast("long"))
      .filter(col("rn") <= prefixLen(col("n")) && col("df") >= 2)
      .select("doc_id", "elem", "rn", "n")
  }

  /** The two prefixes the engine ranks: `ngram_jaccard_dedup`'s
    * (trigram ids, t = 0.5) and the `minhash_recall` truth's (tokens,
    * t = 0.9). */
  val prefixes: Seq[(String, (SparkSession, String) => DataFrame, Column => Column)] = Seq(
    ("trigram ids, t = 0.5", TextOps.docTrigramIdArrays, n => (n / 2).cast("bigint") + 1),
    ("tokens, t = 0.9", TextOps.docTokenArrays, n => (n / 10).cast("bigint") + 1))

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** Each prefix on `d` whose engine rows differ from the reference's,
    * or a note when no doc of either prefix has a singleton ahead of a
    * kept element (the rank offset would go unchecked). */
  def mismatches(s: SparkSession, d: String): Seq[String] = {
    val diffs = prefixes.flatMap { case (name, sets, len) =>
      val (got, want) = (rows(TextOps.prefixRanks(sets(s, d), len)), rows(prefixRanks(sets(s, d), len)))
      if (got == want) None
      else Some(s"$name: ${got.size} rows vs ${want.size}; engine only ${got.diff(want).take(5)}; " +
        s"reference only ${want.diff(got).take(5)}")
    }
    val offsetSeen = prefixes.exists { case (_, sets, len) =>
      !TextOps.prefixRanks(sets(s, d), len).groupBy("doc_id").agg(min("rn").as("first")).filter(col("first") > 1).isEmpty
    }
    diffs ++ (if (offsetSeen) Nil else Seq("no doc ranks a kept element after a singleton"))
  }
}
