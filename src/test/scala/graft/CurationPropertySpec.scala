package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.text.TextOps
import graft.engine.sim.Similarity

/** Independent plain-Scala models for the round-7 curation operators
  * (the AnalyticsPropertySpec discipline): randomized corpora stress
  * the semantics the smooth fixture never does — single-token docs,
  * shards with one document, budgets smaller than every doc, vectors
  * with a zero component.
  */
class CurationPropertySpec extends SparkSpec {
  import spark.implicits._

  /** The engine's md5 hex fold (first 8 digits, base-16), replicated
    * independently (java MessageDigest, not Spark). */
  private def fold8(sIn: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sIn.getBytes("UTF-8")).map("%02x".format(_)).mkString
    hex.take(8).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
  }

  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1, 25)
      ws <- Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg"))
    } yield ws.mkString(" "))
  } yield rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def cases(count: Int): Seq[List[(Long, String)]] =
    (1 to count).flatMap(i => docsGen.apply(Gen.Parameters.default, Seed(513L + i)))

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val d = graft.engine.TempDirs.scratch("graft-curprop")
    rows.map { case (id, t) => (id, t, "en", s"src${id % 3}") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Sequential-fold packing model: per shard in doc_id order, running
    * cumsum, pack = (cum − n) div budget — the window-free ground
    * truth for the distributed cumsum form. */
  private def packModel(rows: Seq[(Long, String)], budget: Long): (Long, Long, Long) = {
    val packs = rows
      .map { case (id, t) => (fold8(t) % 16, id, t.split(" ").length.toLong) }
      .groupBy(_._1).toSeq.flatMap { case (shard, docs) =>
        var cum = 0L
        docs.sortBy(_._2).map { case (_, _, n) =>
          cum += n
          ((shard, math.floorDiv(cum - n, budget)), n)
        }
      }
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).sum }
    (packs.size.toLong, packs.count(_ > budget).toLong, packs.sum)
  }

  test("pack_efficiency_sweep equals the sequential-fold model on random corpora") {
    cases(4).foreach { rows =>
      val got = TextOps.queries("pack_efficiency_sweep")(spark, docsDir(rows))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      Seq(128L, 256L, 512L).foreach { b =>
        assert(got(b) == packModel(rows, b), s"budget $b, corpus: $rows")
      }
    }
  }

  test("embedding_quantize: scale is max|x| and mse obeys the half-step bound") {
    // |x − round(x·127/s)·s/127| ≤ s/254 per component ⇒ mse ≤ (s/254)²
    val vecGen: Gen[List[Array[Float]]] = for {
      n <- Gen.choose(3, 12)
      vs <- Gen.listOfN(n, Gen.listOfN(8, Gen.choose(-2.0, 2.0)))
    } yield vs.map(_.map(_.toFloat).toArray)
    (1 to 3).foreach { i =>
      val vecs = vecGen.apply(Gen.Parameters.default, Seed(900L + i)).get
      val d = graft.engine.TempDirs.scratch("graft-quantprop")
      vecs.zipWithIndex.map { case (v, j) => (j.toLong, v, j % 2) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      // 8-d property fixture: set the declared dim or the universe
      // gate empties the corpus and the property checks go VACUOUS
      val out = withConf("graft.vector.dim", "8") {
        Similarity.queries("embedding_quantize")(spark, d)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      }
      assert(out.length == vecs.length, "quantize output must cover every in-universe vector")
      out.foreach { case (id, scale, mse) =>
        val v = vecs(id.toInt).map(_.toDouble)
        val s0 = v.map(math.abs).max
        assert(math.abs(scale - s0) < 5e-7, s"scale != max|x|: $scale vs $s0")
        val bound = (s0 / 254.0) * (s0 / 254.0)
        assert(mse <= bound * (1 + 1e-9) + 1e-9, s"mse $mse above half-step bound $bound")
      }
    }
  }

  test("dsir_importance_weights equals the add-one log-ratio model (src0 = target)") {
    cases(3).foreach { rows =>
      // docsDir assigns source s{id % 3}: src0 docs are the target side
      val withSrc = rows.map { case (id, t) => (id, t, s"src${id % 3}") }
      val tokAll = withSrc.flatMap { case (_, t, src) => t.split(" ").map((_, src)) }
      val vocab = tokAll.map(_._1).distinct.size.toLong
      val nT = tokAll.count(_._2 == "src0").toLong
      val nS = tokAll.count(_._2 != "src0").toLong
      val cT = tokAll.filter(_._2 == "src0").groupBy(_._1).map { case (k, xs) => k -> xs.size.toLong }
      def lr(tok: String, cs: Long): Double =
        math.log((cT.getOrElse(tok, 0L) + 1).toDouble / (nT + vocab)) -
          math.log((cs + 1).toDouble / (nS + vocab))
      val cS = tokAll.filter(_._2 != "src0").groupBy(_._1).map { case (k, xs) => k -> xs.size.toLong }
      val model = withSrc.filter(_._3 != "src0").map { case (id, t, _) =>
        val toks = t.split(" ")
        id -> (toks.length.toLong, toks.map(w => lr(w, cS(w))).sum / toks.length)
      }.toMap
      val got = TextOps.queries("dsir_importance_weights")(spark, docsDir(rows))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.nonEmpty)
      got.foreach { case (id, nTok, w) =>
        val (mN, mW) = model(id)
        assert(nTok == mN, s"doc $id token count: $nTok vs $mN")
        assert(math.abs(w - mW) < 1e-6, s"doc $id weight: $w vs $mW")
      }
      // only train-side docs are candidates
      assert(got.forall(_._1 % 3 != 0), s"eval doc in the resampling head: ${got.toSeq}")
    }
  }

  /** Spark round(x, 6) semantics (HALF_UP on the shortest decimal
    * representation) — same helper discipline as Similarity.round6. */
  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("eval_contamination_report equals the set-arithmetic model on random corpora") {
    // longer docs so 8-shingles exist; duplicated texts across the
    // src{0,1,2} assignment guarantee cross-side shingle overlap
    val gen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(6, 18)
      texts <- Gen.listOfN(n, for {
        k <- Gen.choose(8, 20)
        ws <- Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc"))
      } yield ws.mkString(" "))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    (1 to 3).foreach { i =>
      val rows = gen.apply(Gen.Parameters.default, Seed(7100L + i)).get
      def shingles(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 8) Set.empty
        else (0 to w.length - 8).map(j => w.slice(j, j + 8).mkString(" ")).toSet
      }
      val trainSh = rows.filter(_._1 % 3 != 0).flatMap(r => shingles(r._2)).toSet
      val model = rows.filter(_._1 % 3 == 0).flatMap { case (id, t) =>
        val sh = shingles(t)
        val hit = sh.count(trainSh.contains)
        if (hit > 0) Some(id -> (sh.size.toLong, hit.toLong,
          round6(hit.toDouble / sh.size))) else None
      }.toMap
      val got = TextOps.queries("eval_contamination_report")(spark, docsDir(rows))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got == model, s"corpus: $rows")
    }
  }
}
