package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.text.TextOps

/** Property tests for the round-5 text-scoring family: each operator
  * compared against an independent plain-Scala model on random
  * word-soup corpora (ROUND(·,6) tolerance on transcendental scores,
  * exact on counts) — the oracle-independent net beside the DuckDB
  * parity gate.
  */
class TextModelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val words = Vector("a", "b", "c", "dd", "ee", "fff")
  private val corpusGen: Gen[List[(Long, String, String, String)]] = for {
    n <- Gen.choose(3, 10)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(2, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
      src <- Gen.oneOf("s0", "s1")
    } yield (ws.mkString(" "), src))
  } yield docs.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, "en", s) }

  private def cases(count: Int): Seq[List[(Long, String, String, String)]] =
    (1 to count).flatMap(i => corpusGen.apply(Gen.Parameters.default, Seed(991L + i)))

  private def dirOf(rows: Seq[(Long, String, String, String)]): String = {
    val d = graft.engine.TempDirs.scratch("graft-txtprop")
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bigram_logppl equals the plain-Scala LM model") {
    cases(4).foreach { rows =>
      val bgs = rows.flatMap { case (id, t, _, _) =>
        t.split(" ").sliding(2).filter(_.length == 2).map(p => (id, p(0), p(1)))
      }
      val c2 = bgs.groupBy(b => (b._2, b._3)).map { case (k, xs) => k -> xs.size }
      val c1 = bgs.groupBy(_._2).map { case (k, xs) => k -> xs.size }
      val model = bgs.groupBy(_._1).map { case (id, xs) =>
        id -> (xs.size.toLong, round6(-xs.map(b =>
          math.log(c2((b._2, b._3)).toDouble / c1(b._2))).sum / xs.size))
      }
      val got = TextOps.queries("bigram_logppl")(spark, dirOf(rows))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet == model.keySet)
      got.foreach { case (id, (n, nll)) =>
        assert(n == model(id)._1 && math.abs(nll - model(id)._2) < 2e-6,
          s"doc $id: got ($n, $nll) model ${model(id)}")
      }
    }
  }

  test("char_entropy equals the plain-Scala entropy model") {
    cases(4).foreach { rows =>
      val model = rows.map { case (id, t, _, _) =>
        val n = t.length.toDouble
        val clc = t.groupBy(identity).values.map(g => g.length * math.log(g.length)).sum
        id -> (t.length.toLong, round6(math.log(n) - clc / n))
      }.toMap
      val got = TextOps.queries("char_entropy")(spark, dirOf(rows))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      got.foreach { case (id, (n, h)) =>
        assert(n == model(id)._1 && math.abs(h - model(id)._2) < 2e-6,
          s"doc $id: got ($n, $h) model ${model(id)}")
      }
    }
  }

  test("kl_source_divergence is ≥ 0 and equals the plain-Scala model") {
    cases(4).foreach { rows =>
      val tok = rows.flatMap { case (_, t, _, src) => t.split(" ").map(src -> _) }
      val n = tok.size.toDouble
      val ct = tok.groupBy(_._2).map { case (k, xs) => k -> xs.size }
      val model = tok.groupBy(_._1).map { case (src, xs) =>
        val ns = xs.size.toDouble
        val cs = xs.groupBy(_._2).map { case (k, ys) => k -> ys.size }
        src -> (xs.size.toLong, round6(cs.map { case (t, c) =>
          (c / ns) * math.log((c / ns) / (ct(t) / n))
        }.sum))
      }
      val got = TextOps.queries("kl_source_divergence")(spark, dirOf(rows))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet == model.keySet)
      got.foreach { case (src, (nt, kl)) =>
        assert(kl >= -1e-9, s"KL must be non-negative: $src -> $kl")
        assert(nt == model(src)._1 && math.abs(kl - model(src)._2) < 2e-6,
          s"source $src: got ($nt, $kl) model ${model(src)}")
      }
    }
  }

  test("bpe_merge_candidates equals the model's top pairs (count desc, pair asc)") {
    cases(4).foreach { rows =>
      val pairs = rows.flatMap(_._2.split(" "))
        .flatMap(t => t.sliding(2).filter(_.length == 2))
        .groupBy(identity).map { case (p, xs) => (p(0).toString, p(1).toString, xs.size.toLong) }
      val model = pairs.toSeq.sortBy { case (a, b, c) => (-c, a, b) }.take(20)
      val got = TextOps.queries("bpe_merge_candidates")(spark, dirOf(rows))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == model, s"got $got model $model")
    }
  }

  test("vocab_coverage_curve: shares are monotone in k and hit 1.0 when vocab ≤ k") {
    cases(4).foreach { rows =>
      val nVocab = rows.flatMap(_._2.split(" ")).distinct.size
      val got = TextOps.queries("vocab_coverage_curve")(spark, dirOf(rows))
        .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
      assert(got(10) <= got(100) + 1e-9 && got(100) <= got(1000) + 1e-9)
      if (nVocab <= 10) assert(got(10) == 1.0)
      assert(got(1000) == 1.0, s"6-word vocab must be fully covered at k=1000")
    }
  }

  test("bucket-local pair generation ≡ nested-loop band-join pairs on random corpora") {
    // the MinHash candidate pair list is produced bucket-locally
    // (sorted doc array + suffix slice) rather than via a band
    // self-join; the two enumerations must yield the SAME multiset.
    // Model: recompute the 8 min-hashes per doc (the engine's fold_hex
    // token ids via the registered SQL function, its seed constants,
    // its P) and enumerate each (band, bsig) bucket's d1<d2 pairs with
    // a plain nested loop.
    graft.engine.expr.GraftFunctions.register(spark)
    val P = 1000003L
    cases(6).foreach { rows =>
      val d = dirOf(rows)
      val got = TextOps.minhashPairs(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).view.mapValues(_.length).toMap
      val tids = spark.read.parquet(s"$d/documents.parquet")
        .selectExpr("doc_id", "explode(array_distinct(split(text, ' '))) AS token")
        .selectExpr("doc_id", s"fold_hex(md5(CAST(token AS BINARY)), 8) % $P AS tid")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val sig = tids.map { case (doc, ts) =>
        doc -> (0 until 8).map(s => ts.map(t => (t * (s * 2 + 3) + (s * 7 + 1)) % P).min)
      }
      val model = collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
      for (b <- 0 until 2) {
        val buckets = sig.toSeq.groupBy { case (_, m) =>
          (b * 4 until (b + 1) * 4).map(m).reduceLeft((a, x) => a * 31 + x)
        }
        for ((_, ds) <- buckets; ids = ds.map(_._1).sorted;
             i <- ids.indices; j <- i + 1 until ids.size)
          model((ids(i), ids(j))) += 1
      }
      // round 9: generation is DUP-FREE — the engine's pair SET must
      // equal the band-join model's key set, with every count 1 (the
      // model's band-dup multiplicities are collapsed by the
      // cross-band suppression, never by a distinct shuffle)
      assert(got.keySet == model.keySet,
        s"pair set mismatch: engine ${got.size} keys, model ${model.size}")
      assert(got.values.forall(_ == 1),
        s"dup-free generation emitted duplicates: ${got.filter(_._2 > 1).take(5)}")
      // (a third re-collection of the same memoized frame used to be
      // asserted here as "the dedup=true view" — a tautology left
      // over from the removed dedup knob; deleted, the two
      // assertions above ARE the dup-free contract)
    }
  }
}
