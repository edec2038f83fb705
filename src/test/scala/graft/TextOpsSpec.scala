package graft

import graft.engine.Tables
import graft.engine.text.TextOps
import org.apache.spark.sql.functions.col

/** Dedup + text analysis on the docs_with_dups micro-fixture
  * (FIXTURES.md fixture 2): 8 docs with 2 exact-dup pairs and a
  * near-dup pair (one token changed).
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docsFixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s0"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "en", "s1"), // near dup of 0
    (3L, "completely different text about spark joins here", "en", "s1"),
    (4L, "ein schneller brauner fuchs springt sehr hoch", "de", "s2"),
    (5L, "ein schneller brauner fuchs springt sehr hoch", "de", "s2"), // exact dup of 4
    (6L, "el rapido zorro marron salta muy alto hoy", "es", "s3"),
    (7L, "otro texto distinto sobre datos grandes aqui ya", "es", "s3"),
  )

  private def writeFixture(): String = {
    val dir = graft.engine.TempDirs.scratch("graft-textops")
    docsFixture.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val dir = writeFixture()

  test("the per-doc feature views equal their per-artifact builders, and the 8-gram set has no duplicate row") {
    val diff = DedupFeaturesReference.mismatches(spark, sf0001)
    assert(diff.isEmpty, diff.mkString("\n"))
    DedupFeaturesReference.artifacts.foreach { case (name, view, _) =>
      assert(!view(spark, sf0001).isEmpty, s"$name is empty on sf0.001")
    }
  }

  test("the singleton-free PPJoin prefixes equal the full rarest-first ranking restricted to df >= 2") {
    val diff = PrefixRanksReference.mismatches(spark, sf0001)
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("exact_dedup keeps the min doc_id of each text group") {
    val out = TextOps.queries("exact_dedup")(spark, dir).collect()
    assert(out.length == 6) // 8 docs − 2 dup copies
    val keepers = out.map(_.getLong(0)).toSet
    assert(keepers == Set(0L, 2L, 3L, 4L, 6L, 7L))
    val copies = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(copies(0L) == 2 && copies(4L) == 2 && copies(2L) == 1)
  }

  test("minhash bands surface the exact-dup pairs") {
    val pairs = TextOps.queries("minhash_near_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"pairs=$pairs") // identical token sets
    assert(pairs.contains((4L, 5L)))
  }

  test("ngram jaccard: exact dups = 1.0, near dup ≥ 0.5, rest absent") {
    val rows = TextOps.queries("ngram_jaccard_dedup")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows((0L, 1L)) == 1.0)
    assert(rows((4L, 5L)) == 1.0)
    // near dup 0↔2: 7 trigrams each, 6 shared → 6/8 = 0.75
    assert(math.abs(rows((0L, 2L)) - 0.75) < 1e-9)
    assert(!rows.contains((3L, 6L)))
  }

  test("ngram_novelty: dup docs score 0, originals 1, near-dup in between") {
    val rows = TextOps.queries("ngram_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(0L)._3 == 1.0, "doc 0 is the first occurrence of all its trigrams")
    assert(rows(1L)._3 == 0.0, "exact dup of doc 0: nothing novel")
    assert(rows(5L)._3 == 0.0, "exact dup of doc 4: nothing novel")
    // near dup of 0: 7 trigrams, only 'the lazy cat' unseen → 1/7
    assert(rows(2L)._1 == 7 && rows(2L)._2 == 1)
  }

  test("domain_token_cap: greedy doc_id-order prefix within the cap") {
    val out = TextOps.queries("domain_token_cap")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // recompute the greedy truth from the fixture
    val nTok = docsFixture.map { case (id, t, _, src) =>
      (id, src, t.split(" ").length.toLong) }
    val srcTok = nTok.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val sorted = srcTok.values.toSeq.sorted
    val med2 = sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2) // even count
    val cap = med2 / 4
    val expected = nTok.groupBy(_._2).flatMap { case (src, ds) =>
      val kept = ds.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, cum), (_, _, n)) => (n, cum + n) }.tail
        .filter(_._2 <= cap)
      if (kept.isEmpty) None
      else Some(src -> (kept.size.toLong, kept.map(_._1).sum, cap))
    }
    assert(out == expected, s"out=$out expected=$expected (cap=$cap)")
  }

  test("rag_chunk: 32/24 stride boundaries, short tail, single-chunk short docs") {
    val dir2 = graft.engine.TempDirs.scratch("graft-ragchunk")
    val longText = (1 to 40).map(i => s"t$i").mkString(" ") // 40 tokens
    Seq((0L, longText, "en", "s0"), (1L, "a b c", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val out = TextOps.queries("rag_chunk")(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 40 tokens → 2 chunks: [1..32] and the 16-token tail [25..40]
    assert(out == Map((0L, 0L) -> 32L, (0L, 1L) -> 16L, (1L, 0L) -> 3L), s"$out")
  }

  test("zipf_slope: head covers the distinct vocab and slopes downward") {
    val r = TextOps.queries("zipf_slope")(spark, dir).collect()(0)
    val vocab = docsFixture.flatMap(_._2.split(" ")).distinct.size
    assert(r.getLong(0) == math.min(vocab, 100).toLong)
    assert(r.getDouble(1) < 0.0, "frequency must decay with rank")
  }

  test("simhash: exact dups at hamming 0") {
    val rows = TextOps.queries("simhash_dedup")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows((0L, 1L)) == 0)
    assert(rows((4L, 5L)) == 0)
  }

  test("near_dedup_groups: pairs share a group, keeper is the min member") {
    val pairs = TextOps.queries("minhash_near_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val grp = TextOps.queries("near_dedup_groups")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap // member → group
    assert(grp.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet,
      "members = exactly the nodes of the pair graph")
    pairs.foreach { case (a, b) =>
      assert(grp(a) == grp(b), s"pair ($a,$b) split across groups")
    }
    grp.groupBy(_._2).foreach { case (gid, ms) =>
      assert(ms.keys.min == gid, s"group $gid keeper is not the min member")
    }
  }

  test("sequence_pack conserves tokens and respects the budget quotient") {
    val out = TextOps.queries("sequence_pack")(spark, dir).collect()
    val totalTokens = docsFixture.map(_._2.split(" ").length.toLong).sum
    assert(out.map(_.getLong(3)).sum == totalTokens,
      "every token lands in exactly one (shard, pack)")
    out.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(2) > 0, s"degenerate pack row: $r")
      // fill is ROUND(·,6): a tokens%8==4 pack sits EXACTLY on the
      // half-up boundary and moves by exactly 5e-7 — the bound must
      // be inclusive (plus ulp slack) or such packs fail spuriously
      assert(math.abs(r.getDouble(4) - r.getLong(3) / 512.0) <= 5e-7 + 1e-12)
    }
  }

  test("decontaminate_ngram: 8-gram containment vs the src0 eval set, hand-computed") {
    val d2 = graft.engine.TempDirs.scratch("graft-decontam")
    Seq(
      (0L, "a b c d e f g h i", "en", "src0"), // eval: shingles {a..h, b..i}
      (1L, "a b c d e f g h z", "en", "src1"), // 2 shingles, 1 hit → 0.5
      (2L, "z y x w v u t s r", "en", "src2"), // no hits → absent
      (3L, "too short", "en", "src3"),         // < 8 tokens → absent
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val rows = TextOps.queries("decontaminate_ngram")(spark, d2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 2L, 1L, 0.5)), s"got ${rows.toSeq}")
  }

  test("doc_fingerprint: equal texts ⇒ equal fingerprints, order-sensitive") {
    val fp = TextOps.queries("doc_fingerprint")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(4L) == fp(5L))
    assert(fp(0L) != fp(2L)) // one token differs
  }

  test("lang_id predicts the dominant language of each doc") {
    val rows = TextOps.queries("lang_id")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    // vocabularies are disjoint across langs in this fixture except
    // doc 3/7 unique words — every doc should self-predict
    val acc = rows.count { case (_, (pred, actual)) => pred == actual }
    assert(acc >= 7, s"accuracy $acc/8: $rows")
  }

  test("quality_score fields are exact rationals") {
    val r = TextOps.queries("quality_score")(spark, dir)
      .filter("doc_id = 0").head()
    assert(r.getInt(1) == 9) // n_tok ("the" twice)
    // query output is ROUND(·,6) of 8/9
    assert(math.abs(r.getDouble(2) - 0.888889) < 1e-9) // distinct ratio
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val d = graft.engine.TempDirs.scratch("graft-textops2")
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("char_entropy: constant text ⇒ 0; two equiprobable chars ⇒ ln 2") {
    val d = writeDocs(Seq(
      (0L, "aaaa", "en", "s0"),
      (1L, "abab", "en", "s0")))
    val m = TextOps.queries("char_entropy")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(0L) == ((4L, 0.0)))
    assert(m(1L)._1 == 4L)
    assert(math.abs(m(1L)._2 - 0.693147) < 1e-9) // ROUND(ln 2, 6)
  }

  test("char_entropy: empty text emits NO row (sequence(1,0) guard)") {
    // Unguarded, Spark's sequence(1, 0) steps -1 and yields [1, 0] —
    // two phantom '' chars and a spurious (n_chars=2, entropy=0) row
    // where the oracle's generate_series(1, 0) is empty.
    val d = writeDocs(Seq(
      (0L, "", "en", "s0"),
      (1L, "ab", "en", "s0")))
    val m = TextOps.queries("char_entropy")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!m.contains(0L), s"empty doc must not appear, got $m")
    assert(m(1L) == ((2L, 0.693147)))
  }

  test("bigram_logppl: deterministic continuations ⇒ nll 0; 2-way split ⇒ ln 2") {
    // corpus bigrams: (x,y)×2 from docs 0,1; (p,q),(p,r) from doc 2 —
    // so p(y|x)=1 and p(q|p)=p(r|p)=1/2
    val d = writeDocs(Seq(
      (0L, "x y", "en", "s0"),
      (1L, "x y", "en", "s0"),
      (2L, "p q p r", "en", "s0")))
    val m = TextOps.queries("bigram_logppl")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(0L) == ((1L, 0.0)) && m(1L) == ((1L, 0.0)))
    // doc 2's bigrams: (p,q) ln½, (q,p) ln1, (p,r) ln½ → nll = 2·ln2/3
    assert(m(2L)._1 == 3L)
    assert(math.abs(m(2L)._2 - 0.462098) < 1e-9)
  }

  test("bpe_merge_candidates: within-token pairs only, occurrence-weighted") {
    // "ab ab cd" ×1 + "ab" ×1 → (a,b)=3, (c,d)=1; the space boundary
    // between tokens must contribute NO (b,a)/(b,c) pair
    val d = writeDocs(Seq(
      (0L, "ab ab cd", "en", "s0"),
      (1L, "ab", "en", "s0")))
    val out = TextOps.queries("bpe_merge_candidates")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", "b", 3L), ("c", "d", 1L)), s"got ${out.toSeq}")
  }

  test("kl_source_divergence: identical source distributions ⇒ KL 0") {
    val d = writeDocs(Seq(
      (0L, "a a b", "en", "s0"),
      (1L, "a a b", "en", "s1")))
    val rows = TextOps.queries("kl_source_divergence")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("s0", 3L, 0.0), ("s1", 3L, 0.0)))
  }

  test("chunk_dedup: shared 32-token prefix is a dup chunk, tails are not") {
    val prefix = (0 until 32).map(i => s"t$i").mkString(" ")
    val d = writeDocs(Seq(
      (0L, prefix + " " + (32 until 40).map(i => s"t$i").mkString(" "), "en", "s0"),
      (1L, prefix + " " + (32 until 40).map(i => s"u$i").mkString(" "), "en", "s0"),
      (2L, "short text", "en", "s1")))
    val rows = TextOps.queries("chunk_dedup")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 0 is first-seen everywhere; doc 1 repeats doc 0's first chunk
    assert(rows(0L) == ((2L, 0L, 0L)), s"got $rows")
    assert(rows(1L) == ((2L, 1L, 32L)), s"got $rows")
    assert(rows(2L) == ((1L, 0L, 0L)), s"got $rows")
  }

  test("boilerplate_ngrams: the shared 8-gram tops the document-frequency ranking") {
    val shingle = (0 until 8).map(i => s"b$i").mkString(" ")
    val d = writeDocs(Seq(
      (0L, shingle + " unique tail zero", "en", "s0"),
      (1L, shingle + " other ending one", "en", "s0"),
      (2L, "totally different words with no repeats at all", "en", "s1")))
    val top = TextOps.queries("boilerplate_ngrams")(spark, d).collect()
    assert(top.head.getString(0) == shingle && top.head.getLong(1) == 2, s"got ${top.head}")
    assert(top.tail.forall(_.getLong(1) == 1))
  }

  test("dedup_jaccard_histogram: sampled exact dup lands in bin 9, unsampled pairs drop") {
    // ids picked around the (d1·31+d2) mod 50 sample predicate:
    // (0,50) → 50 ≡ 0 KEPT; (0,1) → 1 and (1,50) → 31 dropped
    val d = writeDocs(Seq(
      (0L, "alpha beta gamma delta", "en", "s0"),
      (1L, "alpha beta gamma delta", "en", "s0"),
      (50L, "alpha beta gamma delta", "en", "s0")))
    val hist = TextOps.queries("dedup_jaccard_histogram")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(9L -> 1L), s"got $hist")
  }

  test("dedup_threshold_sweep: exact dup passes every threshold; counts monotone in t") {
    // same sample-predicate fixture as the histogram: only (0,50) kept
    val d = writeDocs(Seq(
      (0L, "alpha beta gamma delta", "en", "s0"),
      (1L, "alpha beta gamma delta", "en", "s0"),
      (50L, "alpha beta gamma delta", "en", "s0")))
    val rows = TextOps.queries("dedup_threshold_sweep")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(5L, 6L, 7L, 8L, 9L).map(t => (t, 1L, 1L)), s"got ${rows.toSeq}")
    // monotonicity is structural (a pair passing t also passes t-1) —
    // assert it anyway on the real sf0.001 surface
    val sweep = TextOps.queries("dedup_threshold_sweep")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sweep.map(_._1).toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    assert(sweep.map(_._2).sliding(2).forall(w => w.head >= w.last),
      s"n_pairs not non-increasing: ${sweep.toSeq}")
    assert(sweep.map(_._3).sliding(2).forall(w => w.head >= w.last),
      s"n_losers not non-increasing: ${sweep.toSeq}")
  }

  test("dedup_token_mass: non-keeper token mass per source, exact share") {
    // three identical 4-token docs: group keeper 0, losers 1 and 50
    val d = writeDocs(Seq(
      (0L, "alpha beta gamma delta", "en", "s0"),
      (1L, "alpha beta gamma delta", "en", "s0"),
      (50L, "alpha beta gamma delta", "en", "s1")))
    val rows = TextOps.queries("dedup_token_mass")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows("s0") == ((2L, 1L, 8L, 4L, 0.5)), s"got ${rows("s0")}")
    assert(rows("s1") == ((1L, 1L, 4L, 4L, 1.0)), s"got ${rows("s1")}")
  }

  test("minhash_calibration: identical docs land in cell (8 matches, bin 9)") {
    val d = writeDocs(Seq(
      (0L, "alpha beta gamma delta", "en", "s0"),
      (1L, "alpha beta gamma delta", "en", "s0"),
      (50L, "alpha beta gamma delta", "en", "s0")))
    val cells = TextOps.queries("minhash_calibration")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells == Map((8L, 9L) -> 1L), s"got $cells")
    // cell mass equals the sampled candidate-pair count on sf0.001
    val calib = TextOps.queries("minhash_calibration")(spark, sf0001).collect()
    val hist = TextOps.queries("dedup_jaccard_histogram")(spark, sf0001).collect()
    assert(calib.map(_.getLong(2)).sum == hist.map(_.getLong(1)).sum,
      "calibration cells and histogram bins must partition the same sampled pair surface")
  }

  test("psi_drift: identical cohorts ⇒ 0; disjoint buckets contribute nothing") {
    // cohorts (doc_id parity) with identical length distributions
    val same = writeDocs(Seq(
      (0L, "a b c", "en", "s0"), (1L, "d e f", "en", "s0"),
      (2L, (0 until 20).map(_ => "x").mkString(" "), "en", "s1"),
      (3L, (0 until 20).map(_ => "y").mkString(" "), "en", "s1")))
    val r1 = TextOps.queries("psi_drift")(spark, same).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getDouble(2)) == ((2L, 2L, 0.0)), s"got $r1")
    // fully shifted: cohort 0 all short (bucket 0), cohort 1 all long
    // (bucket 2) — no bucket populated on both sides
    val shifted = writeDocs(Seq(
      (0L, "a b", "en", "s0"),
      (1L, (0 until 40).map(_ => "z").mkString(" "), "en", "s0")))
    val r2 = TextOps.queries("psi_drift")(spark, shifted).collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getDouble(2)) == ((2L, 0L, 0.0)), s"got $r2")
  }

  test("exact_substring_dedup: hand-counted shared 50-token spans") {
    // words are all-distinct tokens t1..t60; A and B share exactly the
    // first 55 tokens ⇒ shared stride-1 50-windows are starts 1..6
    // (6 spans × 2 docs); C/D are 50-token exact dups ⇒ 1 more span
    // (×2 docs); E is long but unique; F is 49 tokens (no window).
    def toks(r: Range, p: String = "t") = r.map(i => s"$p$i").mkString(" ")
    val d = writeDocs(Seq(
      (0L, toks(1 to 60), "en", "s0"),
      (1L, toks(1 to 55) + " " + toks(1 to 5, "z"), "en", "s0"),
      (2L, toks(1 to 50, "c"), "en", "s1"),
      (3L, toks(1 to 50, "c"), "en", "s1"),
      (4L, toks(1 to 70, "u"), "en", "s1"),
      (5L, toks(1 to 49, "v"), "en", "s2")))
    val r = TextOps.queries("exact_substring_dedup")(spark, d).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((7L, 14L, 4L)), s"got $r")
  }

  test("tokenizer_fertility: exact rationals from hand-counted token sets") {
    // "ab cd12 x!": ws=3; bpe = ab | cd,12 | x,! = 5; chars=10
    val d = writeDocs(Seq(
      (0L, "ab cd12 x!", "en", "s0"),
      (1L, "one two", "de", "s1"))) // ws=2, bpe=2, chars=7
    val out = TextOps.queries("tokenizer_fertility")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(("en", "s0")) == ((1L, 3L, 5L, 1.666667, 2.0)), s"got $out")
    assert(out(("de", "s1")) == ((1L, 2L, 2L, 1.0, 3.5)), s"got $out")
  }

  test("pack_efficiency_sweep: capacity algebra, constant token mass, monotone pack count") {
    val rows = TextOps.queries("pack_efficiency_sweep")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(128L, 256L, 512L), s"got ${rows.toSeq}")
    // the packed token mass is the corpus total — budget-independent
    assert(rows.map(_._4).distinct.length == 1, s"token mass moved: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r._5 == r._2 * r._1, s"capacity != n_packs·budget: $r")
      assert(r._6 == r._4 * 1000000L / r._5, s"fill_ppm != tokens·1e6 div capacity: $r")
      assert(r._3 <= r._2, s"overflow packs exceed pack count: $r")
    }
    // a larger budget can only need fewer (or equal) packs
    for (w <- rows.sliding(2); a = w(0); b = w(1))
      assert(a._2 >= b._2, s"pack count grew with the budget: $a -> $b")
    // budget 512 IS the declared sequence_pack operating point
    val sp = TextOps.queries("sequence_pack")(spark, sf0001).collect()
    assert(rows.last._2 == sp.length.toLong,
      s"512 row must reproduce sequence_pack's pack count: ${rows.last} vs ${sp.length}")
    assert(rows.last._4 == sp.map(_.getLong(3)).sum, "512 token mass must match")
  }

  test("eval_contamination_report: only leaked src0 docs, exact leak share") {
    val rows = TextOps.queries("eval_contamination_report")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "fixture has cross-source duplicated docs")
    val src0 = Tables.documents(spark, sf0001)
      .filter(col("source") === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(src0.contains(r._1), s"non-eval doc reported: $r")
      assert(r._2 >= 1 && r._3 >= 1 && r._3 <= r._2, s"hit counts inconsistent: $r")
      assert(math.abs(r._4 - r._3.toDouble / r._2) < 1e-6, s"leakage != hits/shingles: $r")
    }
  }

  test("dsir_importance_weights: target-like docs outrank off-target docs") {
    // eval (src0) = "a b"; train doc 0 repeats the target's tokens,
    // train doc 1 shares none. Add-one over vocab {a,b,x,y}:
    // lr(a) = ln(2/6) − ln(2/8) > 0, lr(x) = ln(1/6) − ln(2/8) < 0
    // ⇒ doc 0 scores positive, doc 1 negative, doc 0 ranks first.
    val d = writeDocs(Seq(
      (9L, "a b", "en", "src0"),
      (0L, "a b", "en", "s1"),
      (1L, "x y", "en", "s1")))
    val rows = TextOps.queries("dsir_importance_weights")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L), s"got ${rows.toSeq}")
    assert(rows(0)._3 > 0 && rows(1)._3 < 0,
      s"target-like doc must score positive, off-target negative: ${rows.toSeq}")
    // the eval docs themselves are never candidates
    assert(!rows.exists(_._1 == 9L))
  }

  test("ccnet_ppl_buckets: buckets partition each lang with ordered NLL ranges") {
    val rows = TextOps.queries("ccnet_ppl_buckets")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val perLang = Tables.documents(spark, sf0001).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == perLang.keySet, "every lang bucketed")
    rows.groupBy(_._1).foreach { case (lang, bs) =>
      assert(bs.map(_._2).toSet.subsetOf(Set(1L, 2L, 3L)), s"$lang buckets: $bs")
      assert(bs.map(_._3).sum == perLang(lang),
        s"buckets must PARTITION $lang's docs: ${bs.toSeq} vs ${perLang(lang)}")
      bs.foreach(b => assert(b._5 <= b._6, s"min_nll > max_nll: $b"))
      // the <= boundary puts equal NLLs in the same bucket, so
      // consecutive bucket ranges are STRICTLY ordered
      for (w <- bs.sortBy(_._2).sliding(2) if w.length == 2; a = w(0); b = w(1))
        assert(a._6 < b._5, s"$lang bucket ranges overlap: $a -> $b")
    }
  }
}
