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
  *  - `simhash_dedup`: the Hamming-ball probe (each distinct signature
  *    XOR every mask of popcount ≤ 3, looked up in the signature set)
  *    claims COMPLETENESS for Hamming ≤ 3 and exactly-once pair
  *    emission through the distinct-signature dim expansion. The pin
  *    compares against a brute-force pair scan over the SAME signature
  *    table (every doc pair, bit_count(xor) ≤ 3).
  *
  * Random word-soup corpora over a tiny vocabulary maximize shared
  * trigrams and signature collisions — the regime where the filters
  * do real pruning work and an off-by-one (prefix length, position
  * bound, probe radius) actually drops a qualifying pair. Each corpus
  * also carries one planted exact duplicate so the J = 1 / ham = 0
  * boundary is exercised every case. Singleton-heavy corpora pad the
  * docs with doc-private words, so whole prefixes are df = 1 elements
  * that the prefix never ships and pairs share only elements ranked
  * after a doc's singletons — the regime of the rank offset.
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

  /** Word soup between doc-private words (df = 1 everywhere), plus
    * planted docs: a pair sharing an 8-word tail behind 2 private
    * words each (6 of 10 trigrams shared, J = 0.6, every shared
    * trigram ranked after the doc's 2 singletons), a doc whose whole
    * prefix is singletons but which shares that tail's last trigram,
    * and a doc of private words only. */
  private val singletonCorpusGen: Gen[List[(Long, String, String, String)]] = for {
    n <- Gen.choose(5, 12)
    docs <- Gen.listOfN(n, for {
      pre <- Gen.choose(0, 6)
      len <- Gen.choose(0, 8)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
      post <- Gen.choose(0, 3)
    } yield (pre, ws, post))
  } yield {
    val priv = (i: Int, tag: String, k: Int) => (0 until k).map(j => s"$tag${i}x$j")
    val tail = (1 to 8).map(j => s"t$j")
    val random = docs.zipWithIndex.map { case ((pre, ws, post), i) =>
      priv(i, "p", pre) ++ ws ++ priv(i, "q", post) }
    val planted = Seq(priv(100, "p", 2) ++ tail, priv(101, "p", 2) ++ tail,
      priv(102, "p", 6) ++ tail.takeRight(3), priv(103, "p", 7))
    (random ++ planted).zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" "), "en", "s0") }.toList
  }

  private def singletonCases(count: Int): Seq[List[(Long, String, String, String)]] =
    (1 to count).flatMap(i => singletonCorpusGen.apply(Gen.Parameters.default, Seed(6151L + i)))

  private def dirOf(rows: Seq[(Long, String, String, String)]): String = {
    val d = graft.engine.TempDirs.scratch("graft-dedupprop")
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** The declared ngram_jaccard_dedup rows on `rows` against an
    * all-pairs scan; returns the all-pairs truth. */
  private def checkNgram(rows: Seq[(Long, String, String, String)]): Set[(Long, Long, Double)] = {
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
    brute
  }

  test("ngram_jaccard_dedup ≡ unfiltered all-pairs Jaccard on random corpora (prefix/position/size filters lossless)") {
    cases(6).foreach { rows =>
      assert(checkNgram(rows).exists(_._3 == 1.0), "planted exact duplicate missing from truth")
    }
  }

  test("ngram_jaccard_dedup ≡ unfiltered all-pairs Jaccard on singleton-heavy corpora (pairs found behind the singletons)") {
    singletonCases(6).foreach { rows =>
      val n = rows.size.toLong
      // the planted tail pair: its 6 shared trigrams rank after each
      // doc's 2 singletons
      assert(checkNgram(rows).contains((n - 4, n - 3, 0.6)), "planted tail pair missing from truth")
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
    assert(sampledIds.size >= 3, "need three sampled ids below 500")
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
      val shared = (0 until 19).map(i => s"v$i")        // in no random doc
      val planted = Seq(
        (sampledIds(0), above.mkString(" ")),
        (unsampledIds(0), (above :+ "w39").mkString(" ")),
        (sampledIds(1), below.mkString(" ")),
        (unsampledIds(1), below.drop(2).mkString(" ")),
        // both-unsampled near-dup: in the J ≥ 0.9 set, not in truth
        (unsampledIds(2), vocab.slice(20, 33).mkString(" ")),
        (unsampledIds(3), vocab.slice(20, 34).mkString(" ")),
        // J = 19/20 behind a singleton: the sampled side's rank 1 is
        // its private token, so the pair meets only at its ranks 2-3
        (sampledIds(2), (shared :+ "private").mkString(" ")),
        (unsampledIds(4), shared.mkString(" ")),
        // a whole prefix (length 2) of singletons
        (unsampledIds(5), ((0 until 12).map(i => s"y$i") ++ vocab.take(3)).mkString(" ")))
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
      assert(got.contains(key(sampledIds(2), unsampledIds(4))),
        "planted pair behind a singleton missing from truth")
      val unsampledPair = key(unsampledIds(2), unsampledIds(3))
      assert(bruteAll.contains(unsampledPair) && !got.contains(unsampledPair),
        "sample scoping violated: both-unsampled pair handling diverged")
    }
  }

  test("jaccardPairs finds pairs at J = t exactly, meeting only at the last prefix rank, with and without a probe") {
    // The prefix length ⌊(den − num)·n / den⌋ + 1 and the position
    // bound (min(n_a − rn_a, n_b − rn_b) + 1)·(num + den) ≥ num·(n_a + n_b)
    // are both tight here: an off-by-one in either drops the pair.
    //  - t = 9/10: |A| = |B| = 19, i = 18, u = 20. Each doc's private
    //    element (df = 1) ranks first, so the pair meets first at
    //    rank 2 = ⌊19/10⌋ + 1, where the bound is 18·19 ≥ 9·38. Docs
    //    3 and 4 share one element less (J = 17/21) and must not pair.
    //  - t = 1/2: A = {s}, B = {private, s}, i = 1, u = 2. The one
    //    shared element is A's rank 1 of a 1-prefix and B's rank 2 of
    //    a 2-prefix, where the bound is 1·3 ≥ 1·3.
    val shared = (100L until 118L).toSeq
    val sets = Seq(
      1L -> (1000L +: shared), 2L -> (1001L +: shared),
      3L -> (1002L +: 1003L +: shared.tail), 4L -> (1004L +: 1005L +: shared.tail),
      5L -> Seq(200L), 6L -> Seq(1006L, 200L))
      .map { case (id, arr) => (id, arr.sorted) }.toDF("doc_id", "arr")
    val pairs = (num: Int, den: Int, probe: Seq[Long]) =>
      TextOps.jaccardPairs(sets, num, den, if (probe.isEmpty) None else Some(probe.toDF("doc_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val at9 = (1L, 2L, 18L, 20L)
    val at5 = (5L, 6L, 1L, 2L)
    for (probe <- Seq(Nil, Seq(1L), Seq(2L), Seq(1L, 3L)))
      assert(pairs(9, 10, probe) == Set(at9), s"t = 9/10, probe $probe")
    assert(pairs(9, 10, Seq(3L, 5L)).isEmpty, "a probe without either side must find nothing")
    for (probe <- Seq(Nil, Seq(5L), Seq(6L))) {
      val got = pairs(1, 2, probe)
      assert(got.contains(at5) && got.forall(p => p._3 * 2 >= p._4), s"t = 1/2, probe $probe: $got")
    }
  }

  test("simhash_dedup ≡ brute-force Hamming ≤ 3 over the same signatures (probe complete, pairs exactly-once)") {
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
        s"Hamming-ball probe diverged from brute-force truth:\n missing=${brute -- got.toSet}\n extra=${got.toSet -- brute}")
      assert(brute.exists(_._3 == 0), "planted exact duplicate missing from truth")
    }
  }

  test("simhash_dedup boundaries: Hamming 3 kept, Hamming 4 dropped, identical signatures paired, NULL text skipped, 697 masks") {
    val masks = TextOps.simhashMasks
    assert(masks.size == 697 && masks.distinct.size == 697 && masks.contains(0L)
      && masks.forall(m => m >= 0 && m < (1L << 16) && java.lang.Long.bitCount(m) <= 3),
      s"${masks.size} masks")
    // one-word docs: pick a word, one at Hamming 3 from it and one at
    // Hamming 4 from both
    graft.engine.expr.GraftFunctions.register(spark)
    val sig = spark.range(0, 400).select(concat(lit("w"), col("id")).as("t"))
      .select(col("t"), expr("simhash16(split(t, ' '))").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val ham = (x: Long, y: Long) => java.lang.Long.bitCount(x ^ y)
    val (a, b, c) = (for {
      (a, ha) <- sig.iterator; (b, hb) <- sig.iterator if ham(ha, hb) == 3
      (c, hc) <- sig.iterator if ham(ha, hc) == 4 && ham(hb, hc) >= 4
    } yield (a, b, c)).next()
    val rows = Seq((0L, a), (1L, b), (2L, c), (3L, a), (4L, null: String))
    val dir = dirOf(rows.map { case (i, t) => (i, t, "en", "s0") })
    val out = TextOps.queries("simhash_dedup")(spark, dir)
    assert(out.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("d1" -> "bigint", "d2" -> "bigint", "ham" -> "int"), out.schema.treeString)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((0L, 1L, 3), (0L, 3L, 0), (1L, 3L, 3)), s"$a $b $c: $got")
  }
}
