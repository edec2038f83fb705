package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.text.TextOps

/** End-to-end losslessness pins for the two filtered dedup paths whose
  * 100 TB viability rests on a pruning-is-complete argument:
  *
  *  - `ngram_jaccard_dedup`: the rarest-first PPJoin prefix filter +
  *    position filter + size-ratio filter claim to admit EVERY pair
  *    with true Jaccard ≥ 0.5 (TextOps "LOSSLESS for J ≥ t"). The pin
  *    compares the declared output against an unfiltered all-pairs
  *    scan over the SAME per-doc trigram-id arrays, so a counter-
  *    example falsifies exactly the filter chain, not the hashing.
  *
  *  - `simhash_dedup`: the 4×4-bit banded candidate join claims
  *    pigeonhole-COMPLETENESS for Hamming ≤ 3 and exactly-once pair
  *    emission through the distinct-signature dim expansion. The pin
  *    compares against a brute-force pair scan over the SAME signature
  *    table (every doc pair, bit_count(xor) ≤ 3).
  *
  * Random word-soup corpora over a tiny vocabulary maximize shared
  * trigrams and signature collisions — the regime where the filters
  * do real pruning work and an off-by-one (prefix length, position
  * bound, band shift) actually drops a qualifying pair. Each corpus
  * also carries one planted exact duplicate so the J = 1 / ham = 0
  * boundary is exercised every case.
  */
class DedupLosslessPropertySpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("a", "b", "c", "dd", "ee", "fff", "g", "hh")
  private val corpusGen: Gen[List[(Long, String, String, String)]] = for {
    n <- Gen.choose(6, 18)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 14)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
      src <- Gen.oneOf("s0", "s1")
    } yield (ws.mkString(" "), src))
  } yield {
    // plant an exact duplicate of the first doc at the end: at least
    // one J = 1.0 / ham = 0 pair exists in every generated corpus
    val all = docs :+ docs.head
    all.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, "en", s) }
  }

  private def cases(count: Int): Seq[List[(Long, String, String, String)]] =
    (1 to count).flatMap(i => corpusGen.apply(Gen.Parameters.default, Seed(4099L + i)))

  private def dirOf(rows: Seq[(Long, String, String, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("dedupprop").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("ngram_jaccard_dedup ≡ unfiltered all-pairs Jaccard on random corpora (prefix/position/size filters lossless)") {
    cases(6).foreach { rows =>
      val dir = dirOf(rows)
      val docsArr = TextOps.docTrigramIdArrays(spark, dir)
      // brute force: every doc pair over the same folded-id arrays,
      // no prefix/position/size pruning anywhere
      val brute = docsArr.select(col("doc_id").as("d1"), col("arr").as("a1"))
        .crossJoin(docsArr.select(col("doc_id").as("d2"), col("arr").as("a2")))
        .filter(col("d1") < col("d2"))
        .withColumn("inter", size(array_intersect(col("a1"), col("a2"))).cast("long"))
        .withColumn("uni",
          size(col("a1")).cast("long") + size(col("a2")).cast("long") - col("inter"))
        .filter(col("inter") / col("uni") >= 0.5)
        .withColumn("jac", round(col("inter") / col("uni"), 6))
        .select("d1", "d2", "jac")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = TextOps.queries("ngram_jaccard_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == got.toSet.size,
        s"duplicate pair rows in declared output: ${got.toSeq.sorted}")
      assert(got.toSet == brute,
        s"filter chain diverged from all-pairs truth:\n missing=${brute -- got.toSet}\n extra=${got.toSet -- brute}")
      assert(brute.exists(_._3 == 1.0), "planted exact duplicate missing from truth")
    }
  }

  test("minhashTruthPairs ≡ unfiltered sample-scoped exact-Jaccard ≥ 0.9 (the recall ground truth loses no pair)") {
    // The truth table grades minhash_recall/_b1r8 — a lossy prefix
    // filter HERE corrupts every recall number while staying
    // oracle-green elsewhere. Planted per case: a pair just ABOVE the
    // boundary (J = 12/13, one side sampled), a pair just BELOW
    // (J = 13/15, one side sampled — must be excluded), and a pair
    // above the boundary with NO sampled side (must be excluded by
    // the sample scope, not found by accident).
    graft.engine.expr.GraftFunctions.register(spark)
    val sampFlag = (id: String) => s"fold_hex(md5(CAST($id AS STRING)), 8) % 20 = 0"
    val ids = spark.range(0, 500)
      .withColumn("s", expr(sampFlag("id"))).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val sampledIds = ids.filter(_._2).keys.toSeq.sorted
    val unsampledIds = ids.filterNot(_._2).keys.toSeq.sorted
    assert(sampledIds.size >= 2, "need two sampled ids below 500")
    val vocab = (0 until 40).map(i => s"w$i")

    val gen = for {
      n <- Gen.choose(8, 20)
      docs <- Gen.listOfN(n, for {
        k <- Gen.choose(8, 22)
        ws <- Gen.pick(k, vocab)
      } yield ws.mkString(" "))
    } yield docs
    (1 to 5).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7451L + i))).foreach { randomDocs =>
      // planted docs use the vocabulary tail so random docs can't
      // accidentally change a planted pair's Jaccard
      val above = vocab.take(12)                       // J = 12/13 ≥ 0.9
      val below = vocab.take(15)                       // J = 13/15 < 0.9
      val planted = Seq(
        (sampledIds(0), above.mkString(" ")),
        (unsampledIds(0), (above :+ "w39").mkString(" ")),
        (sampledIds(1), below.mkString(" ")),
        (unsampledIds(1), below.drop(2).mkString(" ")),
        // both-unsampled near-dup: in the J ≥ 0.9 set, not in truth
        (unsampledIds(2), vocab.slice(20, 33).mkString(" ")),
        (unsampledIds(3), vocab.slice(20, 34).mkString(" ")))
      val usedIds = planted.map(_._1).toSet
      val randomIds = unsampledIds.iterator.filterNot(usedIds).take(randomDocs.size).toSeq
      val rows = (planted ++ randomIds.zip(randomDocs))
        .map { case (id, t) => (id, t, "en", "s0") }
      val dir = dirOf(rows)

      val arrs = TextOps.docTokenArrays(spark, dir)
        .withColumn("samp", expr(sampFlag("doc_id")))
      val allPairs = arrs.select(col("doc_id").as("d1"), col("arr").as("a1"), col("samp").as("f1"))
        .crossJoin(arrs.select(col("doc_id").as("d2"), col("arr").as("a2"), col("samp").as("f2")))
        .filter(col("d1") < col("d2"))
        .withColumn("i", size(array_intersect(col("a1"), col("a2"))).cast("long"))
        .withColumn("u",
          size(col("a1")).cast("long") + size(col("a2")).cast("long") - col("i"))
        .filter(col("i") / col("u") >= 0.9)
      val bruteAll = allPairs.select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = allPairs.filter(col("f1") || col("f2")).select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = TextOps.minhashTruthPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"truth join diverged from all-pairs truth:\n missing=${brute -- got}\n extra=${got -- brute}")
      val key = (s: Long, o: Long) => (math.min(s, o), math.max(s, o))
      assert(brute.contains(key(sampledIds(0), unsampledIds(0))),
        "planted above-boundary sampled pair missing from truth")
      assert(!bruteAll.contains(key(sampledIds(1), unsampledIds(1))),
        "planted below-boundary pair unexpectedly qualifies")
      val unsampledPair = key(unsampledIds(2), unsampledIds(3))
      assert(bruteAll.contains(unsampledPair) && !got.contains(unsampledPair),
        "sample scoping violated: both-unsampled pair handling diverged")
    }
  }

  test("simhash_dedup ≡ brute-force Hamming ≤ 3 over the same signatures (banding complete, pairs exactly-once)") {
    cases(6).foreach { rows =>
      val dir = dirOf(rows)
      val sh = TextOps.docFeaturesPlan(spark, dir).select("doc_id", "simhash")
      val brute = sh.select(col("doc_id").as("d1"), col("simhash").as("h1"))
        .crossJoin(sh.select(col("doc_id").as("d2"), col("simhash").as("h2")))
        .filter(col("d1") < col("d2"))
        .withColumn("ham", bit_count(col("h1").bitwiseXOR(col("h2"))))
        .filter(col("ham") <= 3)
        .select("d1", "d2", "ham")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = TextOps.queries("simhash_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got.length == got.toSet.size,
        s"pair emitted more than once by the dim expansion: ${got.toSeq.sorted}")
      assert(got.toSet == brute,
        s"banded join diverged from brute-force truth:\n missing=${brute -- got.toSet}\n extra=${got.toSet -- brute}")
      assert(brute.exists(_._3 == 0), "planted exact duplicate missing from truth")
    }
  }
}
