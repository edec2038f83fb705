package graft

import graft.engine.text.TextOps

/** The md5-digit fold behind every arithmetic text hash, pinned at
  * BOTH configured widths (`graft.text.foldHexDigits` = 8 and 12)
  * against an independent pure-JVM model of the same arithmetic —
  * the definition both engines implement, so model-equality here plus
  * the driver's DuckDB oracle at width 8 is what makes the 48-bit
  * scale switch trustworthy (SURVEY.md §7.6; round-2 verdict item 8).
  */
class FoldWidthSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000003L

  private val docsFixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (2L, "the quick brown fox jumps over the lazy cat", "en", "s1"),
    (3L, "completely different text about spark joins here", "en", "s1"),
    (4L, "ein schneller brauner fuchs springt sehr hoch", "de", "s2"),
    (5L, "ein schneller brauner fuchs springt sehr hoch", "de", "s2"),
  )

  private lazy val dir: String = {
    val d = graft.engine.TempDirs.scratch("graft-foldwidth")
    docsFixture.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The fold's definition: first `width` hex digits as a base-16 int. */
  private def foldModel(tok: String, width: Int): Long =
    md5hex(tok).take(width).foldLeft(0L)((acc, c) => acc * 16L + Character.digit(c, 16))

  /** doc_fingerprint's declared arithmetic over the model fold. */
  private def fpModel(text: String, width: Int): Long = {
    val terms = text.split(" ").zipWithIndex.map { case (t, i) =>
      ((foldModel(t, width) % P) * (((i + 1).toLong * 131 + 7) % P)) % P
    }
    terms.sum % P
  }

  private def sessionAt(width: Int) = {
    val s2 = spark.newSession()
    s2.conf.set("graft.text.foldHexDigits", width.toString)
    s2
  }

  test("engine fingerprint equals the independent fold model at widths 8 AND 12") {
    for (width <- Seq(8, 12)) {
      val fp = TextOps.queries("doc_fingerprint")(sessionAt(width), dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docsFixture.foreach { case (id, text, _, _) =>
        assert(fp(id) == fpModel(text, width), s"width=$width doc=$id")
      }
    }
  }

  test("width 12 is a genuine 48-bit id space (folds exceed 2^32)") {
    val toks = docsFixture.flatMap(_._2.split(" ")).distinct
    assert(toks.exists(t => foldModel(t, 12) > (1L << 32)),
      "no fixture token folded above 32 bits — widened path untested")
    // widths genuinely diverge: the wide fold is NOT the narrow fold
    assert(toks.exists(t => foldModel(t, 12) != foldModel(t, 8)))
  }

  test("minhash and split stay green and Long-safe at width 12") {
    val s12 = sessionAt(12)
    val pairs = TextOps.queries("minhash_near_dedup")(s12, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((4L, 5L)),
      s"exact dups must collide in every band at any width: $pairs")
    // stratified_split consumes the RAW (un-reduced) fold — at width 12
    // the bucket is fold%10 of a 48-bit value; splits must still cover
    // every doc exactly once
    val n = TextOps.queries("stratified_split")(s12, dir)
      .collect().map(_.getLong(2)).sum
    assert(n == docsFixture.length.toLong)
  }

  test("native fold_hex ≡ HOF fold on every input shape, incl. edge cases") {
    import org.apache.spark.sql.functions._
    graft.engine.expr.GraftFunctions.register(spark)
    // md5 outputs, a non-hex character mid-stream (HOF: instr = 0 →
    // digit −1), a string SHORTER than the width (HOF: substring →
    // '' → instr = 1 → digit 0), the empty string, and NON-ASCII
    // input (fold_hex is a session-registered SQL function callable
    // on arbitrary strings): the HOF's substring is char-based, so a
    // multi-byte code point is ONE −1 position, not one per byte —
    // the native fold must iterate code points to agree
    val cases = Seq(md5hex("a"), md5hex("xyz"), "0123456z89abcdef",
      "ab", "f", "", "é0ab", "日本語abc", "aé", "ééééééééééééééé")
    for (width <- Seq(1, 8, 12, 15)) {
      val df = cases.toDF("h").select(col("h"),
        call_function("fold_hex", col("h"), lit(width)).as("native"),
        expr(TextOps.foldDigitsSql("h", width)).as("hof"))
      df.collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"width=$width h='${r.getString(0)}': native=${r.getLong(1)} hof=${r.getLong(2)}")
      }
    }
  }

  test("fold_hex width < 1 returns 0 (documented contract, not the HOF quirk)") {
    // The HOF's sequence(1, 0) steps -1 → [1, 0] and folds the first
    // char twice; the native expression's contract is an empty fold.
    import org.apache.spark.sql.functions._
    graft.engine.expr.GraftFunctions.register(spark)
    val r = Seq("abc").toDF("h")
      .select(call_function("fold_hex", col("h"), lit(0)).as("v"),
        call_function("fold_hex", col("h"), lit(-3)).as("v2"))
      .collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("every fold-bearing oracle hardcodes the engine default width (8)") {
    // The DuckDB oracle SQL computes the md5 fold with the idiom
    //   SUM((strpos(...) - 1) * POWER(16, W - u.i)) ... generate_series(1, W)
    // while the engine reads `graft.text.foldHexDigits` (default 8).
    // Verify.main fail-louds on a non-8 session; this pins the other
    // side: no oracle may drift to a different hardcoded W. The
    // POWER(16, W - u.i) factor is unique to the fold idiom, so the
    // scan can't trip on unrelated generate_series(1, 8) loops.
    val powW = """POWER\(16,\s*(\d+)\s*-\s*u\.i\)""".r
    var folds = 0
    for ((k, sql) <- SparkEntry.oracleSql; m <- powW.findAllMatchIn(sql)) {
      folds += 1
      assert(m.group(1) == "8",
        s"oracle '$k' folds at width ${m.group(1)}, engine default is 8")
    }
    assert(folds > 0, "expected at least one fold-bearing oracle")
    // and the engine side genuinely defaults to 8: a fresh session
    // with NO conf override produces the width-8 model fingerprint
    val fp = TextOps.queries("doc_fingerprint")(spark.newSession(), dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docsFixture.foreach { case (id, text, _, _) =>
      assert(fp(id) == fpModel(text, 8), s"default-width doc=$id")
    }
  }
}
