package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.engine.text.TextOps

/** Degenerate-input contract: an EMPTY documents table (right schema,
  * zero rows) must flow through the dedup/text chains as empty output
  * frames, never as a throw. At 100 TB this is not hypothetical — a
  * lang/source/date filter routinely leaves zero rows, and a pipeline
  * stage that crashes on its first empty slice is a production pager.
  * (the k-means sweeps are covered by AdversarialBoundarySpec's
  * empty-corpus list; these chains are pure relational plans.)
  */
class EmptyCorpusSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val d = graft.engine.TempDirs.scratch("graft-emptycorpus")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("dedup chains yield empty frames, not throws, on an empty corpus") {
    // per-doc / per-pair shapes must be EXACTLY empty — a uniform
    // n <= 1 allowance would let a global-agg-on-empty phantom row
    // (all-NULL keeper, zero fingerprint) flow into downstream
    // aggregates unnoticed. Only exact_substring_dedup is
    // aggregate-shaped and legitimately emits one all-zero row.
    for (q <- Seq("exact_dedup", "minhash_near_dedup", "near_dedup_groups",
        "dedup_survivors", "simhash_dedup", "ngram_jaccard_dedup",
        "chunk_dedup", "doc_fingerprint", "winnow_fingerprint")) {
      val n = TextOps.queries(q)(spark, emptyDir).count()
      assert(n == 0, s"$q returned $n rows on an empty corpus (expected 0)")
    }
    val nSub = TextOps.queries("exact_substring_dedup")(spark, emptyDir).count()
    assert(nSub <= 1,
      s"exact_substring_dedup returned $nSub rows on an empty corpus (aggregate shape: <= 1)")
  }
}
