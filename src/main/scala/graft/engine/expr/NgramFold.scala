package graft.engine.expr

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd TEXT-FINGERPRINT kernel family — the whole-window
  * (and whole-document) replacement for the interpreted
  * `transform(sequence(...), i -> ...)` lambdas at the root of the
  * dedup/curation pipelines. Spark's higher-order functions are
  * `CodegenFallback`: every lambda body (concat_ws, md5, fold_hex,
  * slice, array_join, substring) evaluates INTERPRETED, with two
  * virtual calls and boxed values per element per row — at 100 TB the
  * per-byte interpreter overhead on these builds is a real CPU
  * multiplier (the round-7 verdict's one named hot-loop item). Each
  * kernel here is ONE loop over the split word array (or the raw
  * string), a static call inside whole-stage codegen ([[Kernel]]),
  * digesting window bytes incrementally — no join-string
  * materialization.
  *
  * Semantics are bit-for-bit the compositions they replace, pinned in
  * NgramFoldSpec (ASCII + multi-byte UTF-8, widths 8/12, nulls,
  * empties, per-query n values) against HOF mirrors or independent
  * JVM models:
  *
  * Window fingerprints (per-window md5 over ' '-joined words):
  *  - `ngram_fold_ids(w, n, width)` — sorted distinct folded ids
  *    (== sort_array ∘ array_distinct ∘ transform(fold_hex ∘ md5 ∘
  *    concat_ws); the trigram-id table build)
  *  - `ngram_fold_seq(w, n, width)` — per-position folds (winnowing)
  *  - `ngram_md5_set(w, n)` — distinct hex digests, first-occurrence
  *    order (exact-substring dedup, n = 50)
  *  - `ngram_strings(w, n)` — the distinct shingle STRINGS themselves
  *    (the 8-gram decontamination set)
  *  - `chunk_fps(w, budget, stride)` — covering chunk grid →
  *    (n_tok, md5) structs (RAG chunks, disjoint chunk dedup)
  *
  * Whole-document signatures and histograms (one pass per row, no
  * (doc, token) shuffle — min/Σ over a multiset equals min/Σ·cnt over
  * the distinct set):
  *  - `minhash8(w, width)` — the 8 modular min-hashes
  *  - `simhash16(w)` — the 16-bit signed-sum signature
  *  - `word_stats(w)` — (n_tokens, n_distinct, top_c)
  *  - `word_bigrams(w)` — adjacent (t1, t2) struct pairs
  *  - `char_freq(s)` / `char_pair_freq(s)` — code-point (pair)
  *    histograms, shrinking the explode to distinct elements
  *
  * For `size(w) < n` the window kernels return an EMPTY array — the
  * callers' `CASE WHEN size(w) >= n ... ELSE array() END` guard,
  * absorbed (the raw HOF would hit sequence(1, 0)'s step-(-1) quirk,
  * see FoldHex). Null ELEMENTS are skipped exactly as
  * concat_ws/array_join/greatest skip them (split() never produces
  * any; the spec pins the behavior anyway). Folds consume the
  * digest's first `width` NIBBLES directly — arithmetically identical
  * to folding the first `width` lowercase-hex digits of `md5(...)`'s
  * hex string, since every hex digit of a digest is a valid nibble
  * (FoldHex's -1/0 edge cases are unreachable on md5 output).
  */
object NgramFold {

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val SPACE = Array[Byte](' ')

  /** md5 over the UTF-8 bytes of words[i..i+n-1] joined by ' ',
    * concat_ws-style (null elements skipped, separator only between
    * present elements), digested incrementally. */
  private def windowDigest(md: MessageDigest, words: ArrayData, i: Int, n: Int): Array[Byte] = {
    md.reset()
    var first = true
    var j = 0
    while (j < n) {
      if (!words.isNullAt(i + j)) {
        if (!first) md.update(SPACE)
        first = false
        val w = words.getUTF8String(i + j)
        md.update(w.getBytes)
      }
      j += 1
    }
    md.digest()
  }

  /** First `width` nibbles of the digest as a base-16 accumulated
    * Long — FoldHex.fold applied to the digest's lowercase-hex
    * rendering, minus the hex string. */
  private def foldNibbles(digest: Array[Byte], width: Int): Long = {
    var acc = 0L
    var k = 0
    while (k < width) {
      val b = digest(k >> 1)
      val nib = if ((k & 1) == 0) (b >> 4) & 0xf else b & 0xf
      acc = acc * 16 + nib
      k += 1
    }
    acc
  }

  private def allFolds(words: ArrayData, n: Int, width: Int): Array[Long] = {
    val sz = words.numElements()
    val m = sz - n + 1
    if (m <= 0) return Array.emptyLongArray
    val md = mdLocal.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = foldNibbles(windowDigest(md, words, i, n), width)
      i += 1
    }
    out
  }

  /** Sorted distinct folded window ids. */
  def foldIdsSorted(words: ArrayData, n: Int, width: Int): ArrayData = {
    val all = allFolds(words, n, width)
    if (all.isEmpty) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    java.util.Arrays.sort(all)
    var w = 1
    var r = 1
    while (r < all.length) {
      if (all(r) != all(w - 1)) { all(w) = all(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(all, w))
  }

  /** Per-position folded window ids, window order preserved. */
  def foldSeq(words: ArrayData, n: Int, width: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(allFolds(words, n, width))

  private val HEX = "0123456789abcdef".getBytes

  private def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Distinct window md5 hex strings, first-occurrence order. */
  def md5Set(words: ArrayData, n: Int): ArrayData = {
    val sz = words.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val md = mdLocal.get()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < m) {
      seen.add(hex(windowDigest(md, words, i, n)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Chunk cover of the word array: chunks of `budget` tokens
    * starting every `stride` tokens (stride == budget → disjoint
    * chunks; stride < budget → overlapping RAG windows), enough
    * chunks to cover the tail (the last one short). Per chunk:
    * (n_tok, md5 hex of the ' '-joined content) — equals the
    * `transform(sequence(...), j -> array_join(slice(w, j·stride+1,
    * budget), ' '))` + md5 + re-split-count composition, with the
    * chunk STRING never materialized. */
  def chunkFps(words: ArrayData, budget: Int, stride: Int): ArrayData = {
    val sz = words.numElements()
    if (sz <= 0) return new GenericArrayData(Array.empty[Any])
    val n = if (sz <= budget) 1 else (sz - budget + stride - 1) / stride + 1
    val md = mdLocal.get()
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      val start = j * stride
      val len = math.min(budget, sz - start)
      out(j) = new GenericInternalRow(
        Array[Any](len.toLong, hex(windowDigest(md, words, start, len))))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The ' '-joined n-gram STRINGS of the word array, DISTINCT per
    * row (first-occurrence order) — equals
    * `array_distinct(CASE WHEN size(w) >= n THEN
    *    transform(sequence(1, size(w)-n+1), i -> concat_ws(' ', ...))
    *  ELSE array() END)`.
    * The per-row distinct is free inside the kernel and shrinks the
    * downstream explode: a document repeating a shingle ships it
    * once (the consumers all re-distinct globally at (keep, ng), so
    * semantics are unchanged — spec-pinned). */
  def ngramStrings(words: ArrayData, n: Int): ArrayData = {
    val sz = words.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < m) {
      // concat_ws semantics: null elements skipped, separator only
      // between present ones
      var totalLen = 0
      var present = 0
      var j = 0
      while (j < n) {
        if (!words.isNullAt(i + j)) {
          totalLen += words.getUTF8String(i + j).numBytes()
          present += 1
        }
        j += 1
      }
      val out = new Array[Byte](totalLen + math.max(0, present - 1))
      var o = 0
      var first = true
      j = 0
      while (j < n) {
        if (!words.isNullAt(i + j)) {
          if (!first) { out(o) = ' '; o += 1 }
          first = false
          val w = words.getUTF8String(i + j)
          w.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + o)
          o += w.numBytes()
        }
        j += 1
      }
      seen.add(UTF8String.fromBytes(out))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** All adjacent word pairs as (t1, t2) structs, order and
    * duplicates kept — equals
    * `CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w)-1),
    *    i -> struct(w[i-1] AS t1, w[i] AS t2)) ELSE array() END`. */
  def wordBigrams(words: ArrayData): ArrayData = {
    val sz = words.numElements()
    if (sz < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](sz - 1)
    var i = 0
    while (i < sz - 1) {
      val a = if (words.isNullAt(i)) null else words.getUTF8String(i)
      val b = if (words.isNullAt(i + 1)) null else words.getUTF8String(i + 1)
      out(i) = new GenericInternalRow(Array[Any](a, b))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent code-point PAIR histogram of a string (c1, c2, c),
    * first-occurrence order — equals the per-position substring pair
    * transform → explode → count composition with the explode shrunk
    * to distinct pairs (alphabet²-bounded). */
  def charPairFreq(s: UTF8String): ArrayData = {
    val b = s.getBytes
    if (b.length == 0) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[(UTF8String, UTF8String), java.lang.Long]()
    var prevStart = 0
    var prevLen = math.min(UTF8String.numBytesForFirstByte(b(0)), b.length)
    var bi = prevLen
    while (bi < b.length) {
      val nb = math.min(UTF8String.numBytesForFirstByte(b(bi)), b.length - bi)
      val key = (UTF8String.fromBytes(b, prevStart, prevLen),
        UTF8String.fromBytes(b, bi, nb))
      val prev = counts.get(key)
      counts.put(key, if (prev == null) 1L else prev + 1L)
      prevStart = bi; prevLen = nb
      bi += nb
    }
    val out = new Array[Any](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e.getKey._1, e.getKey._2, e.getValue))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The 8 modular min-hashes of the token array, map-side:
    * mh_s = MIN over tokens of ((fold(md5(token)) % P)·(2s+3) + (7s+1)) % P.
    * Equals the explode→tid→8-min-agg composition EXACTLY because min
    * over the token MULTISET is min over the distinct set — so the
    * per-doc signature needs neither the distinct nor the (doc_id,
    * token) shuffle. Null tokens are skipped (min ignores nulls); an
    * all-null/empty array returns null (the groupBy form emits no row
    * — unreachable through split(), which always yields ≥1 element).
    * NgramFoldSpec pins the kernel against per-seed
    * `array_min(transform(...))` HOF mirrors. */
  def minhash8(words: ArrayData, width: Int): ArrayData = {
    val P = 1000003L
    val sz = words.numElements()
    val mins = Array.fill(8)(Long.MaxValue)
    val md = mdLocal.get()
    var any = false
    var i = 0
    while (i < sz) {
      if (!words.isNullAt(i)) {
        any = true
        md.reset()
        md.update(words.getUTF8String(i).getBytes)
        val tid = foldNibbles(md.digest(), width) % P
        var s = 0
        while (s < 8) {
          val h = (tid * (s * 2 + 3) + (s * 7 + 1)) % P
          if (h < mins(s)) mins(s) = h
          s += 1
        }
      }
      i += 1
    }
    if (!any) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** The 16-bit SimHash signature of the token array, map-side:
    * bit j set iff Σ over tokens of sign_j(token) > 0, where
    * sign_j = ((j-th hex nibble of md5(token)) % 2)·2 − 1. Equals the
    * (doc, token)-count → Σ cnt·sign composition EXACTLY because
    * Σ cnt·sign over distinct tokens IS Σ sign over the multiset; the
    * count map below only avoids re-digesting repeated tokens. Exact
    * integer arithmetic — order-free by construction. */
  def simhash16(words: ArrayData): Long = {
    val sz = words.numElements()
    val counts = new java.util.HashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < sz) {
      if (!words.isNullAt(i)) {
        val t = words.getUTF8String(i)
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1L else prev + 1L)
      }
      i += 1
    }
    val s = new Array[Long](16)
    val md = mdLocal.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      md.reset()
      md.update(e.getKey.getBytes)
      val digest = md.digest()
      val cnt = e.getValue.longValue()
      var j = 0
      while (j < 16) {
        val b = digest(j >> 1)
        val nib = if ((j & 1) == 0) (b >> 4) & 0xf else b & 0xf
        s(j) += cnt * ((nib % 2) * 2 - 1)
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 16) {
      if (s(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Per-doc token-repetition sufficient statistics, map-side:
    * (n_tokens, n_distinct, top_c) over the word array — equals the
    * explode → (doc, token) count → per-doc (sum, count, max)
    * composition with NO shuffle (a doc's tokens live in its own
    * row). Null tokens are skipped like the groupBy they replace. */
  def wordStats(words: ArrayData): GenericInternalRow = {
    val sz = words.numElements()
    val counts = new java.util.HashMap[UTF8String, java.lang.Long]()
    var n = 0L
    var i = 0
    while (i < sz) {
      if (!words.isNullAt(i)) {
        n += 1
        val t = words.getUTF8String(i)
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1L else prev + 1L)
      }
      i += 1
    }
    var top = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next().longValue(); if (c > top) top = c }
    new GenericInternalRow(Array[Any](n, counts.size.toLong, top))
  }

  /** Character-entropy sufficient statistics, whole-document map-side:
    * (n_chars, Σ c·ln c) over the code-point histogram — equals the
    * char_freq explode → per-doc (sum(c), sum(c·ln c)) composition
    * with the explode and the doc_id agg exchange gone (a doc's
    * characters live in its own row). Σ order is first-occurrence —
    * a fixed order inside the ROUND(·,6) float-add tolerance the
    * parallel sum already carried. Empty string returns null (the
    * explode form emitted no row for it). */
  def charEntropyStats(s: UTF8String): GenericInternalRow = {
    val b = s.getBytes
    if (b.length == 0) return null
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var bi = 0
    while (bi < b.length) {
      val nb = math.min(UTF8String.numBytesForFirstByte(b(bi)), b.length - bi)
      val ch = UTF8String.fromBytes(b, bi, nb)
      val prev = counts.get(ch)
      counts.put(ch, if (prev == null) 1L else prev + 1L)
      bi += nb
    }
    var n = 0L
    var clc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      n += c
      clc += c * math.log(c.toDouble)
    }
    new GenericInternalRow(Array[Any](n, clc))
  }

  /** MOSS winnowing sufficient statistics, whole-document map-side:
    * per-position n-gram folds (== foldSeq) reduced mod P, MIN over
    * each width-4 sliding window (full windows only: positions
    * 0..m-4), then (count, min, max) over the DISTINCT selected mins.
    * Equals the posexplode → doc_id-window(count, sliding min) →
    * filter(full) → distinct → groupBy(count, min, max) composition
    * EXACTLY — every position of a doc lives in its own row, so the
    * doc_id exchange, both window sorts, the distinct shuffle and the
    * final agg shuffle all disappear. Returns null when the doc has
    * no full window (m < 4), matching the groupBy form emitting no
    * row for docs the full-window filter empties. */
  /** Hash modulus of the winnow path. MUST equal TextOps.P (the
    * corpus-wide arithmetic-hash modulus) and the literal `% 1000003`
    * in the winnow_fingerprint oracle SQL — the three sites are one
    * contract; changing any one alone desyncs engine and oracle
    * (ADVICE r15 #3). */
  private[graft] val WinnowP = 1000003L

  /** MOSS winnowing window span (positions per sliding min). Baked
    * into the winnow_fingerprint oracle's w=4 window arithmetic and
    * the m<4 null guard below — the same single-contract rule as
    * WinnowP. */
  private[graft] val WinnowSpan = 4

  /** `foldWidth` is the fold-hex digit width of the per-n-gram hash
    * (TextOps.foldWidth), NOT the winnow window span — that is
    * [[WinnowSpan]]. */
  def winnowStats(words: ArrayData, n: Int, foldWidth: Int): GenericInternalRow = {
    val folds = allFolds(words, n, foldWidth)
    val m = folds.length
    if (m < WinnowSpan) return null
    var i = 0
    while (i < m) { folds(i) = folds(i) % WinnowP; i += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    var minFp = Long.MaxValue
    var maxFp = Long.MinValue
    i = 0
    while (i <= m - WinnowSpan) {
      var wmin = folds(i)
      var j = i + 1
      while (j < i + WinnowSpan) {
        if (folds(j) < wmin) wmin = folds(j)
        j += 1
      }
      seen.add(wmin)
      if (wmin < minFp) minFp = wmin
      if (wmin > maxFp) maxFp = wmin
      i += 1
    }
    new GenericInternalRow(Array[Any](seen.size.toLong, minFp, maxFp))
  }

  /** All unordered distinct-token pairs of a document as (t1, t2)
    * structs with t1 < t2 byte-wise — equals the doc-local self-join
    * `tok.as("a").join(tok.as("b"), a.doc_id === b.doc_id && a.token <
    * b.token)` over the exploded distinct-token rows EXACTLY (a doc's
    * tokens live in its own row, so the pair surface never needs the
    * doc_id exchange the join paid on both sides): TreeSet ordering is
    * UTF8String.compareTo, the same binary comparison Spark's `<` on
    * strings evaluates. Per-doc quadratic in its ~dozens of distinct
    * tokens, never corpus-quadratic — the same bound the join had. */
  def tokenPairs(words: ArrayData): ArrayData = {
    val sz = words.numElements()
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < sz) {
      if (!words.isNullAt(i)) set.add(words.getUTF8String(i))
      i += 1
    }
    val m = set.size
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val toks = set.toArray(new Array[UTF8String](m))
    val out = new Array[Any](m * (m - 1) / 2)
    var k = 0
    i = 0
    while (i < m - 1) {
      var j = i + 1
      while (j < m) {
        out(k) = new GenericInternalRow(Array[Any](toks(i), toks(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-code-point frequency histogram of a string, first-occurrence
    * order: (ch, c) pairs — equals
    * `transform(sequence(1, length(s)), i -> substring(s, i, 1))` →
    * explode → count per char, computed in ONE generated pass with
    * the explode shrunk from per-CHARACTER rows to per-DISTINCT-char
    * rows (alphabet-bounded). */
  def charFreq(s: UTF8String): ArrayData = {
    val b = s.getBytes
    if (b.length == 0) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var bi = 0
    while (bi < b.length) {
      // clamp the declared code-point width at the buffer end so a
      // malformed trailing byte can't overrun the array (valid UTF-8 —
      // everything split() emits — never hits the clamp)
      val nb = math.min(UTF8String.numBytesForFirstByte(b(bi)), b.length - bi)
      val ch = UTF8String.fromBytes(b, bi, nb)
      val prev = counts.get(ch)
      counts.put(ch, if (prev == null) 1L else prev + 1L)
      bi += nb
    }
    val out = new Array[Any](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      i += 1
    }
    new GenericArrayData(out)
  }
}
