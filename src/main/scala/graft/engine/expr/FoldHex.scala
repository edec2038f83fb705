package graft.engine.expr

import org.apache.spark.unsafe.types.UTF8String

/** `fold_hex(h, width)`: fold the first `width` hex digits of a
  * lowercase-hex string (an md5 output) into a Long, base 16 — the
  * deterministic token/doc id at the root of EVERY dedup pipeline
  * (TextOps.foldDigitsSql documents the semantics and the DuckDB
  * mirror).
  *
  * The higher-order-function form
  * (`aggregate(transform(sequence(1, w), i -> instr(..) - 1), 0L,
  * (acc, x) -> acc * 16 + x)`) evaluates INTERPRETED lambdas — two
  * virtual calls and a boxed Long per hex digit per row. [[fold]] is
  * one loop over the string's bytes, a static call inside whole-stage
  * codegen. Bit-for-bit identical semantics, including the HOF's
  * edge behavior: a position past the end of the string
  * contributes 0 (substring → '' → instr = 1 → −1 + 1) and a non-hex
  * CHARACTER — including any non-ASCII code point, which is why the
  * fold iterates UTF-8 code points, not raw bytes — contributes −1
  * (instr = 0) — so FoldWidthSpec's independent model pins both
  * forms (ASCII and non-ASCII), and the DuckDB oracle reproduces
  * every id unchanged.
  *
  * Contract: `width` must be ≥ 1 (internal use is md5 hex, width in
  * [1, 15]). For width < 1 it returns 0 (an empty fold),
  * deliberately NOT matching the HOF form there: Spark's
  * `sequence(1, 0)` defaults to step −1 and yields [1, 0], so the
  * HOF "folds" the first character twice — a sequence-default quirk,
  * not semantics worth reproducing. FoldWidthSpec pins this too.
  */
object FoldHex {
  def fold(s: UTF8String, width: Int): Long = {
    val b = s.getBytes
    var acc = 0L
    var ci = 0 // code-point index — the HOF's substring(h, i, 1) is
    var bi = 0 // char-based, so a multi-byte char is ONE position
    while (ci < width) {
      val d =
        if (bi >= b.length) 0L // past end: HOF substring→'' → instr 1 → 0
        else {
          val nb = UTF8String.numBytesForFirstByte(b(bi))
          val c = b(bi) & 0xff
          bi += nb
          if (nb > 1) -1L // non-ASCII code point: instr 0 → −1
          else if (c >= '0' && c <= '9') (c - '0').toLong
          else if (c >= 'a' && c <= 'f') (c - 'a' + 10).toLong
          else -1L // non-hex char: instr 0 → −1
        }
      acc = acc * 16 + d
      ci += 1
    }
    acc
  }
}
