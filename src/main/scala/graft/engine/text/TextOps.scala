package graft.engine.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MeasuredCheckpoint
import graft.engine.{Fan, Tables}

/** Text / dedup operators over the `documents` table — the LLM-data-
  * pipeline surface (SURVEY.md §2.2 #17,18,21,22,23 + the extended
  * dedup & text-analysis family: SimHash, n-gram Jaccard, language-ID,
  * quality scoring, regex token counting, positional fingerprinting,
  * byte-level/multimodal hashing).
  *
  * Determinism: every hash is plain modular arithmetic over a
  * per-token 32-bit id derived from the first 8 hex digits of
  * `md5(token)` — both engines produce identical lowercase-hex md5 of
  * the UTF-8 bytes, and the digit fold is exact integer math, so the
  * DuckDB oracle reproduces every id bit-for-bit with no
  * engine-specific murmur/xxhash. Jaccard/ratios are single IEEE
  * divisions of identical integers (drift-free); transcendental scores
  * are ROUND(·,6).
  *
  * Scale notes (100 TB): token ids are computed MAP-SIDE per row (the
  * round-1 design ranked a global vocabulary with `dense_rank` over an
  * unpartitioned window — every distinct token through ONE task; the
  * md5 fold removes that global sort and the vocab broadcast join
  * entirely). Exact dedup groups by sha2(text) so the shuffle key is a
  * 32-byte digest, not the document body. MinHash/SimHash candidate
  * generation is a self-equi-join on (band, signature) / bucket —
  * shuffle-bounded, never an n² cross join.
  */
object TextOps {

  // modulus for all arithmetic hashes — SHARED with the winnow kernel
  // (one constant, not two literals: ADVICE r15 #3); the `% 1000003`
  // literals in the oracle SQL are the third face of the contract
  private val P = graft.engine.expr.NgramFold.WinnowP

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** docs() fanned to the session's parallelism ([[graft.engine.Fan]])
    * — use ONLY in front of expansion-heavy map stages (per-char /
    * per-ngram / per-bigram explodes and the minhash signature builds).
    * Cheap single-pass queries keep the bare scan (an exchange would
    * cost more than it saves there). */
  private def docsF(s: SparkSession, d: String): DataFrame = Fan.docs(docs(s, d), d)

  /** (doc_id, token) with multiplicity, plus lang/source. */
  private def tokens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), col("source"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "token")))

  /** The map-side bigram stream PLAN (pre-checkpoint), package-private
    * for ScaleShapeSpec's kernel pin — `bigram_logppl` eagerly
    * checkpoints it for its three consumers. */
  private[graft] def bigramStreamPlan(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    docsF(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr("word_bigrams(w)")).as("bg"))
      .select(col("doc_id"), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
  }

  /** Deterministic token id: fold the first `width` lowercase-hex
    * digits of md5(token) as a base-16 integer. Pure per-row arithmetic
    * (codegen'd higher-order functions, no UDF, no shuffle, no global
    * sort); DuckDB computes the identical value from its own md5().
    * The default width 8 (32 bits) keeps every downstream product
    * (id × seed constants) inside Long range; at ~30k-token oracle
    * vocabularies the birthday bound gives E[collisions] =
    * C(30k,2)/2³² ≈ 0.1 — a collision merges two tokens in the hash
    * semantics identically in BOTH engines (oracles stay green). At
    * 100 TB vocabularies set `graft.text.foldHexDigits=12` (48-bit
    * ids, birthday-safe into the billions of distinct tokens): every
    * modular consumer reduces the id mod P immediately (congruence ⇒
    * identical results at width 8, Long-safe products at width 12+),
    * and FoldWidthSpec pins both widths against an independent model.
    *
    * The md5 hex is computed ONCE into a projected column and the fold
    * reads that column — inlining `md5(...)` into the transform lambda
    * would digest the full input once per hex digit (8×; Spark does
    * not hoist subexpressions out of HOF lambdas). */
  private[graft] def foldDigitsSql(hexCol: String, width: Int): String =
    s"""aggregate(
       |  transform(sequence(1, $width),
       |    i -> CAST(instr('0123456789abcdef', substring($hexCol, i, 1)) - 1 AS BIGINT)),
       |  CAST(0 AS BIGINT), (acc, x) -> acc * 16 + x)""".stripMargin

  /** [[foldDigitsSql]] above is the DOCUMENTED portable form — it is
    * what the DuckDB oracle executes, and the engine keeps it only on
    * the tiny embedding_project sign matrix (dims×8 rows). Every
    * corpus-sized engine path calls the native `fold_hex` instead
    * (FoldWidthSpec pins the two bit-for-bit). */

  /** Fold width in hex digits (4 bits each), session-configurable. */
  private def foldWidth(s: SparkSession): Int = {
    val w = s.conf.get("graft.text.foldHexDigits", "8").toInt
    require(w >= 1 && w <= 15, s"graft.text.foldHexDigits=$w outside [1,15]")
    w
  }

  /** Adds a fold-hash column derived from md5(`srcCol`) — via the
    * NATIVE codegen'd `fold_hex` expression (graft.engine.expr
    * .FoldHex): the HOF form ran interpreted lambdas per hex digit
    * per row at the root of every dedup pipeline. Semantics are
    * pinned bit-for-bit against the HOF form in FoldWidthSpec; the
    * oracle keeps computing the same fold from [[foldDigitsSql]]'s
    * documented formula. */
  private def withFoldHash(df: DataFrame, srcCol: String, out: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(df.sparkSession)
    df.withColumn(out,
      call_function("fold_hex", md5(col(srcCol).cast("binary")),
        lit(foldWidth(df.sparkSession))))
  }

  /** The word-8-gram set of each document, one row per (keep-cols,
    * ng): the `ng8` column of [[docFeatures]] exploded, so the set is
    * stored once, as one array per doc, and width 8 is the only one.
    * No distinct is needed: the codegen'd `ngram_strings` kernel emits
    * each doc's DISTINCT shingles, the keep cols (columns of
    * [[docFeatures]]) are doc constants, and `doc_id` is the documents
    * table's primary key ([[graft.engine.Tables.requirePk]]), so no
    * two rows share (keep, ng). Caveat: under `graft.pk.check=skip` a
    * duplicated doc_id emits its shingles once per duplicate row — the
    * engine-defined behaviour of every id-keyed operator over a broken
    * key. */
  private[graft] def ngramSetCached(s: SparkSession, d: String, n: Int,
                             keep: Seq[String]): DataFrame = {
    require(n == 8, s"only the 8-gram set is stored (docFeatures.ng8); got n = $n")
    docFeatures(s, d).select(keep.map(col) :+ explode(col("ng8")).as("ng"): _*)
  }

  /** Per doc that `side` selects and that shares a shingle with
    * `against`: its 8-gram count `n_sh`, its shared count `n_hit` and
    * their ratio as `share`. `n_sh` is the array's size (the kernel
    * emits distinct shingles), so it needs no count shuffle; the
    * coalesce only keeps it non-nullable (NULL text explodes no row). */
  private def shingleHits(s: SparkSession, d: String, side: Column, against: DataFrame,
                          share: String): DataFrame =
    docFeatures(s, d).filter(side).select(col("doc_id"),
      coalesce(size(col("ng8")), lit(0)).cast("long").as("n_sh"), explode(col("ng8")).as("sh"))
      .join(against, Seq("sh"), "left_semi")
      .groupBy("doc_id", "n_sh").agg(count(lit(1)).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit") / col("n_sh"), 6).as(share))
      .orderBy("doc_id")

  /** Adds the `tid` column to any frame with a `token` column,
    * REDUCED mod P: every consumer multiplies tid under mod P, so the
    * reduction is a no-op by congruence at width 8 (oracles compute
    * the raw fold and reduce inside the same formulas) and is what
    * keeps width-12 products inside Long. */
  private def withTid(tok: DataFrame): DataFrame =
    withFoldHash(tok, "token", "__tid0")
      .withColumn("tid", col("__tid0") % P).drop("__tid0")

  /** MinHash/LSH near-dup candidate pairs (d1 < d2): 8 modular
    * min-hashes over the token set, banded b=2 × r=4 (4 hashes chained
    * per band signature). r=4 keeps band collisions selective even on
    * low-entropy token sets — with r=2 the candidate self-join explodes
    * quadratically on corpora whose token sets mostly coincide.
    * Shared by `minhash_near_dedup` (pair surface) and
    * `near_dedup_groups` (pair → group resolution). The generation is
    * DUP-FREE: each qualifying pair is emitted by exactly ONE band (see
    * the cross-band suppression in [[minhashPairsPlan]]), so there is
    * one frame and no pair-scale distinct. Memoized per (session,
    * sfDir, banding) as a measured checkpoint: the pair surface and
    * group resolution (`resolveGroups`) both consume it. */
  private[graft] def minhashPairs(s: SparkSession, d: String,
                           rowsPerBand: Int = 4): DataFrame =
    pairsCache.get(s, s"$d|r$rowsPerBand")(MeasuredCheckpoint(minhashPairsPlan(s, d, rowsPerBand)))

  private val pairsCache = new graft.engine.SessionCache[DataFrame]

  /** The pair build PLAN behind [[minhashPairs]]' checkpoint, for the
    * `builder_minhash_pairs` shape row and ScaleShapeSpec's pins. */
  private[graft] def minhashPairsPlan(s: SparkSession, d: String,
                               rowsPerBand: Int = 4): DataFrame = {
    require(8 % rowsPerBand == 0, s"rowsPerBand=$rowsPerBand must divide 8")
    val cap = bucketCap(s)
    require(cap >= 1, s"graft.neardedup.bucketCap=$cap must be >= 1")
    val nBands = 8 / rowsPerBand
    val sig = minhashSignatures(s, d)
    // band signatures: the r min-hashes of each band chained base-31
    def chain(idxs: Range) =
      idxs.map(i => col(s"m$i")).reduceLeft((a, b) => a * 31 + b)
    // Per-doc band signatures bs0..bs{k-1}, plus — for EVERY band —
    // the doc's RANK inside its band-b bucket's sorted doc order (one
    // row_number window per band, on the key the successor window
    // shuffles on anyway). The ranks give DUP-FREE generation: band b
    // emits a pair only if no EARLIER band already emitted it, and
    // "band p emitted (d1, d2)" is decidable map-side as
    // bs_p(d1) = bs_p(d2) AND rank-distance in that bucket ≤ cap —
    // exactly band p's own window condition. The union over bands is
    // therefore EXACTLY the declared distinct pair set (per-band
    // ROW_NUMBER window in the oracle) with no shuffle of the
    // pair-scale list (4.4M rows at sf0.1).
    var withB = sig.select(col("doc_id") +:
      (0 until nBands).map(b =>
        chain(b * rowsPerBand until (b + 1) * rowsPerBand).as(s"bs$b")): _*)
    for (b <- 0 until nBands)
      withB = withB.withColumn(s"rn$b",
        row_number().over(Window.partitionBy(s"bs$b").orderBy("doc_id")))
    // The union below duplicates the ranked frame's lineage into
    // every band branch; Catalyst PRUNES the windows a branch doesn't
    // reference (band b keeps rn0..rn_{b-1}), so at the declared
    // bandings (nBands ≤ 2) the duplicated evals cost 3 doc-scale
    // exchanges. Past 2 bands the per-branch re-evaluation grows
    // k(k+1)/2, so materialize the ranked frame once instead (doc-scale
    // rows of 2k+1 longs, the same order as the signature checkpoint
    // feeding it).
    if (nBands > 2) withB = withB.localCheckpoint(true)
    // Band 0's bucket repartition and band 1's rank window both shuffle
    // on bs0. One `repartition(bs0)` under both branches is not reused:
    // column pruning drops bs1 below band 0's copy (final plan: still 5
    // shuffles at b=2 × r=4, no reused exchange). Chaining band 1 after
    // band 0's window shares it, but then band 0's successor lists (up
    // to `cap` ids a row) cross the bs1 exchange: n·cap ids shipped twice.
    // Per band: each doc's SUCCESSOR LIST is one window frame over its
    // bucket's doc_id order, the next `cap` rows. No bucket is ever
    // aggregated into one array: the window buffer spills to disk and
    // the frame holds at most `cap` rows, so a 10M-doc boilerplate
    // bucket costs bounded task memory. The bucket shuffle is an
    // explicit repartition so it ships the flat columns: left to the
    // window, the exchange would sit above the projection that builds
    // the struct and ship it twice (as `x` and as the window's input).
    // A hot bucket's fan-out spreads over its n rows after the
    // round-robin repartition instead of landing in the one task owning
    // its hash key, and that repartition also fixes the downstream read
    // width.
    //
    // HOT-BUCKET CAP: a bucket of n docs emits ≤ n·cap pairs — LINEAR
    // in bucket size — instead of n²/2. The frame is a per-position
    // SUCCESSOR window, never a total-pair cutoff, because consecutive
    // pairs (rank distance 1 ≤ cap for any cap ≥ 1) always survive:
    // every bucket stays CONNECTED, so connected components over the
    // capped pair graph equal components over the full one and the
    // whole group-resolution family (`near_dedup_groups`,
    // `dedup_survivors`, `dedup_cluster_stats`, `dedup_token_mass`) is
    // bit-for-bit invariant under the cap (MinhashCapSpec pins the
    // emission bound, the group invariance and equality with the
    // ROW_NUMBER join, fixed and under scalacheck). A total-pair cutoff
    // would drop tail positions' consecutive edges and SPLIT groups —
    // rejected by design. The default (4096, conf
    // `graft.neardedup.bucketCap`) exceeds every fixture bucket (max
    // ~2.5k docs at sf0.1), so declared fixture surfaces are unchanged
    // while the DuckDB oracles mirror the same window. Rows with no
    // successor (a bucket's last doc, singleton buckets) are dropped
    // before the repartition, so a shuffled row carries 1..cap successors.
    //
    // Per-band fan widths SUM exactly to session parallelism: w_b =
    // ⌊default/nBands⌋ + 1 for the first (default mod nBands) bands — a
    // plain default/nBands would undershoot the union width whenever
    // nBands doesn't divide the parallelism (ScaleShapeSpec pins it).
    val base = s.sparkContext.defaultParallelism
    val perBand = (0 until nBands).map { b =>
      val w = math.max(1, base / nBands + (if (b < base % nBands) 1 else 0))
      // band 0 carries nothing, so its rows are bare doc_ids: a
      // one-field struct ships 3x the bytes per successor
      val carried = (0 until b).flatMap(p => Seq(s"bs$p", s"rn$p"))
      val x = if (b == 0) col("doc_id") else struct(("doc_id" +: carried).map(col): _*)
      def id(c: String) = if (b == 0) col(c) else col(s"$c.doc_id")
      val g = withB.repartition(col(s"bs$b"))
        .select(col(s"bs$b"), col("doc_id"), x.as("x"))
        .select(col("x"), collect_list(col("x")).over(Window.partitionBy(s"bs$b")
          .orderBy("doc_id").rowsBetween(1, cap)).as("succ"))
        .filter(size(col("succ")) > 0)
        .repartition(w)
        .select(col("x"), explode(col("succ")).as("y"))
      val emittedEarlier = (0 until b).map(p =>
          col(s"x.bs$p") === col(s"y.bs$p")
            && abs(col(s"y.rn$p") - col(s"x.rn$p")) <= cap)
        .reduceOption(_ || _)
      emittedEarlier.map(c => g.filter(!c)).getOrElse(g)
        .select(id("x").as("d1"), id("y").as("d2"))
    }
    perBand.reduce(_ union _)
  }

  /** The per-doc feature build PLAN (pre-checkpoint), package-private
    * for ScaleShapeSpec's kernel and shape pins — [[docFeatures]]
    * eagerly checkpoints it, so the subtree is invisible in declared
    * plans. ONE fanned scan splits `text` once, and every per-doc
    * artifact of the dedup family is computed MAP-SIDE from that split
    * array (a doc's tokens live in its own row, so none of them needs
    * a shuffle and no (doc, token) row ever exists here):
    *  - `has_text`, `n_w`: the NULL-text flag and the token count, the
    *    row-universe predicates of the views below;
    *  - `arr`: the sorted distinct-token array (NULL for NULL text);
    *  - `mh`: the codegen'd `minhash8` kernel, all 8 modular min-hashes
    *    mh_s = MIN((tid·(2s+3)+7s+1) % P) with tid = fold(md5(token)) % P
    *    in one pass. Min over the distinct set equals min over the token
    *    multiset, so it reads `arr` and digests each distinct token once;
    *  - `tri`: the codegen'd `ngram_fold_ids` kernel, the sorted distinct
    *    folded-trigram ids (fabrication, md5-fold, distinct and sort in
    *    one native pass), for docs with ≥ 3 tokens only. The former
    *    interpreted `transform(..., i -> fold_hex(md5(concat_ws(...))))`
    *    HOF ran its whole lambda per trigram;
    *  - `simhash`: the codegen'd `simhash16` kernel. Σ sign over the token
    *    MULTISET, so it reads the split array, not `arr`;
    *  - `source`, `ng8`: the doc's source and the codegen'd
    *    `ngram_strings` kernel's DISTINCT word-8-gram shingles (an empty
    *    array under 8 tokens), the set [[ngramSetCached]] explodes.
    * NgramFoldSpec pins every kernel bit-for-bit against its HOF or
    * exploded form, so every downstream hash is unchanged. */
  private[graft] def docFeaturesPlan(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    val fw = foldWidth(s)
    docsF(s, d).select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("w"), size(col("w")).as("n_w"),
        sort_array(array_distinct(col("w"))).as("arr"))
      .select(col("doc_id"), col("source"), col("w").isNotNull.as("has_text"), col("n_w"),
        col("arr"), expr(s"minhash8(arr, $fw)").as("mh"),
        when(col("n_w") >= 3, expr(s"ngram_fold_ids(w, 3, $fw)")).as("tri"),
        expr("simhash16(w)").as("simhash"), expr("ngram_strings(w, 8)").as("ng8"))
  }

  /** [[docFeaturesPlan]] memoized per (session, sfDir) as ONE measured
    * checkpoint. The per-doc artifacts below are projections of
    * it, each keeping its own row universe, so a memo epoch reads and
    * splits the text once instead of once per artifact (the truth
    * build, both bandings, the trigram family and `simhash_dedup` all
    * start here). */
  private val featCache = new graft.engine.SessionCache[DataFrame]
  private[graft] def docFeatures(s: SparkSession, d: String): DataFrame =
    featCache.get(s, d)(MeasuredCheckpoint(docFeaturesPlan(s, d)))

  /** The 8-minhash signature table `(doc_id, m0..m7)`. Banding-
    * INDEPENDENT: both declared banding operating points (b=2×r=4 and
    * b=1×r=8) band the SAME signatures, and `minhash_calibration`
    * reads it directly (per-pair signature agreement vs exact Jaccard).
    * NULL-text docs emit NO row — the oracle's UNNEST skips them, where
    * the kernel alone yields a null signature. */
  private[graft] def minhashSignatures(s: SparkSession, d: String): DataFrame =
    docFeatures(s, d).filter(col("has_text"))
      .select(col("doc_id") +: (0 until 8).map(i => col("mh").getItem(i).as(s"m$i")): _*)

  /** The DISTINCT (doc_id, token) set, exploded from the per-doc
    * arrays (map-side: per-doc distinctness needs no shuffle). Read by
    * the exact-Jaccard truth and the df counts of `cooccurrence_pmi`
    * and `tf_idf_top_terms`. NULL-text docs emit no row. */
  private[graft] def distinctTokens(s: SparkSession, d: String): DataFrame =
    docFeatures(s, d).select(col("doc_id"), explode(col("arr")).as("token"))

  /** The rarest-first PPJoin prefix rows `(doc_id, elem, rn, n)` of a
    * per-doc set table `(doc_id, arr)`, the candidate side of
    * [[jaccardPairs]]. Elements rank rarest first under the global
    * total order (df, elem), and a doc
    * keeps ranks rn ≤ `prefixLen(n)`, n = |arr| counted in the explode.
    * Only elements with df ≥ 2 are emitted: a df = 1 element is in one
    * doc, so no prefix join can match it, and it never reaches the
    * doc_id exchange. Singletons sort first under (df, elem), so a
    * kept element's rank in the full order is its rank among the doc's
    * m shared elements plus the n − m singletons ahead of it: the
    * prefix cut and the PPJoin position filter see the same
    * (doc_id, elem, rn) as over the unpruned ranking. Both windows
    * share one spec, so the plan has one doc_id-partitioned Window.
    * Not checkpointed: exchange reuse shares the doc_id exchange
    * between a self-join's two sides, and an eager checkpoint measured
    * slower (2.28 vs 1.88 s interleaved solo at sf0.1) while holding
    * the whole prefix surface in executor storage. */
  private[graft] def prefixRanks(sets: DataFrame, prefixLen: Column => Column): DataFrame = {
    val ex = sets.select(col("doc_id"), size(col("arr")).cast("long").as("n"),
      explode(col("arr")).as("elem"))
    val shared = ex.groupBy("elem").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val w = Window.partitionBy("doc_id").orderBy("df", "elem")
    val m = count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    ex.join(shared, "elem")
      .withColumn("rn", row_number().over(w) + (col("n") - m))
      .filter(col("rn") <= prefixLen(col("n")))
      .select("doc_id", "elem", "rn", "n")
  }

  /** The EXACT set-similarity self-join of a per-doc set table
    * `(doc_id, arr)`: every pair `(d1 < d2, i, u)` with i / u ≥ num/den
    * (i = |A∩B|, u = |A∪B|) — PPJoin (Xiao et al., WWW 2008), the one
    * join behind `ngram_jaccard_dedup` (t = 1/2 over trigram ids) and
    * the `minhash_recall` truth (t = 9/10 over tokens, probed by the
    * sampled docs). Every step is LOSSLESS for J ≥ t:
    *  - prefix: under the global (df, elem) order of [[prefixRanks]],
    *    two docs with J ≥ t share an element inside both prefixes of
    *    length |X| − ⌈t·|X|⌉ + 1 = ⌊(den − num)·|X| / den⌋ + 1 (else
    *    every shared element sits in both suffixes of ⌈t·|X|⌉ − 1 <
    *    |A∩B| elements). The join keys on the RAREST elements only,
    *    exactly where df is small;
    *  - position: a pair meeting at 1-based ranks (rn_a, rn_b) has
    *    overlap ≤ min(n_a − rn_a, n_b − rn_b) + 1, and J ≥ t needs
    *    overlap ≥ num·(n_a + n_b) / (num + den), checked as exact
    *    integer arithmetic in the join condition. A true pair's every
    *    matched element satisfies it, so no qualifying pair loses all
    *    its candidate rows. Since rn ≥ 1 the bound is at most
    *    min(n_a, n_b), so it also enforces the size-ratio condition
    *    den·min ≥ num·max without a test of its own;
    *  - verify: the distinct candidates go through [[withOverlap]] and
    *    are kept on the UNROUNDED i / u ≥ num/den, the same single
    *    IEEE division of identical ints the oracle computes (a rounded
    *    ratio would admit pairs just under t that the prefix may miss).
    * With `probe`, only pairs with a side in it are produced (the
    * probe side ranks only probe docs: the optimizer pushes the
    * inferred doc_id predicate below its window). Unprobed, the pair
    * order comes from the join condition itself, which keeps
    * `least`/`greatest` — and an extra shuffle — out of that plan. */
  private[graft] def jaccardPairs(sets: DataFrame, num: Int, den: Int,
                                  probe: Option[DataFrame] = None): DataFrame = {
    val prefix = prefixRanks(sets, n => (n * (den - num) / den).cast("bigint") + 1)
    val (a, b) = (probe.fold(prefix)(p => prefix.join(p, "doc_id")).as("a"), prefix.as("b"))
    val (da, db) = (col("a.doc_id"), col("b.doc_id"))
    val (other, d1, d2) =
      if (probe.isEmpty) (da < db, da, db) else (da =!= db, least(da, db), greatest(da, db))
    val bound = (least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) + 1) * (num + den) >=
      (col("a.n") + col("b.n")) * num
    val cand = a.join(b, col("a.elem") === col("b.elem") && other && bound)
      .select(d1.as("d1"), d2.as("d2")).distinct()
    withOverlap(cand, sets).filter(col("i") / col("u") >= num.toDouble / den)
  }

  /** Exact overlap `(d1, d2, i, u)` of a pair table `(d1, d2)` over a
    * per-doc set table `(doc_id, arr)`: both sides' arrays attach by
    * doc_id equi-joins (one row per doc, no collect_list of exploded
    * rows), and each pair pays ONE codegen'd `array_intersect`; the
    * set sizes come from the arrays themselves. The dedup family's
    * only intersection: [[jaccardPairs]] verifies its candidates here,
    * and the candidate-quality family measures its sampled pairs. */
  private[graft] def withOverlap(pairs: DataFrame, sets: DataFrame): DataFrame =
    pairs
      .join(sets.select(col("doc_id").as("d1"), col("arr").as("a1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("arr").as("a2")), "d2")
      .withColumn("i", size(array_intersect(col("a1"), col("a2"))).cast("long"))
      .withColumn("u", size(col("a1")).cast("long") + size(col("a2")).cast("long") - col("i"))
      .select("d1", "d2", "i", "u")

  /** Per-doc SORTED distinct-token array `(doc_id, arr)`, one row per
    * doc (NULL `arr` for NULL text): the exact-Jaccard truth build and
    * the candidate-quality family verify candidates with one
    * `array_intersect` per pair against it, with no collect_list
    * shuffle of exploded token rows. */
  private[graft] def docTokenArrays(s: SparkSession, d: String): DataFrame =
    docFeatures(s, d).select("doc_id", "arr")

  /** The DETERMINISTIC 2% sample of the MinHash candidate-pair
    * surface with each pair's EXACT token-set intersection/union
    * `(d1, d2, i, u)` — the shared measurement substrate of the
    * candidate-quality family (`dedup_jaccard_histogram`,
    * `dedup_threshold_sweep`, `minhash_calibration`). The sample
    * predicate is pure pair arithmetic ((d1·31+d2) % 50 — no sample
    * list to ship), and each sampled pair pays ONE [[withOverlap]]
    * against the memoized sorted-token arrays. */
  private def sampledPairIU(s: SparkSession, d: String): DataFrame =
    withOverlap(minhashPairs(s, d).filter((col("d1") * 31 + col("d2")) % 50 === 0),
      docTokenArrays(s, d))

  /** Per-doc SORTED distinct folded-trigram-id array `(doc_id, arr)`,
    * the shared table of `ngram_jaccard_dedup` and `ngram_novelty`: one
    * row per doc, so consumers never re-pay an explode → distinct →
    * collect_list round trip (which once dominated the sf0.1 bench at
    * ~8 s for `ngram_jaccard_dedup` alone). Docs with < 3 tokens have
    * no trigrams and emit NO row (the exploded form's row universe and
    * the oracle's). */
  private[graft] def docTrigramIdArrays(s: SparkSession, d: String): DataFrame =
    docFeatures(s, d).filter(col("n_w") >= 3).select(col("doc_id"), col("tri").as("arr"))

  /** Deterministic 5% sample flag per doc: md5-fold of the doc_id's
    * string form, mod 20 — no sampling state, no broadcast sample
    * list, any cluster size agrees. Computed ONCE per DOC and
    * equi-joined wherever pair tables need sample membership: the
    * fold is an interpreted (non-codegen) higher-order function, and
    * evaluating it per PAIR row — 2 sides × 4.4M band pairs, twice —
    * was ~40 s of the round-4/5 bench on its own. The flag table is
    * corpus-sized (row per doc), so AQE broadcasts it at bench SF and
    * shuffles both sides at 100 TB. */
  private def sampFlags(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    val w = foldWidth(s)
    docs(s, d).select(col("doc_id"),
      expr(s"fold_hex(md5(CAST(doc_id AS STRING)), $w) % 20 = 0")
        .as("samp"))
  }

  /** Truth pairs memoized per (session, sfDir): both
    * banding operating points (`minhash_recall`, `minhash_recall_b1r8`)
    * measure against the SAME exact-Jaccard ground truth — one build,
    * ~86k rows at sf0.1, one measured checkpoint. */
  private val truthCache = new graft.engine.SessionCache[DataFrame]

  private[graft] def minhashTruthCached(s: SparkSession, d: String): DataFrame =
    truthCache.get(s, d)(MeasuredCheckpoint(minhashTruthPairs(s, d)))

  /** Banding recall/precision measurement vs the memoized exact truth
    * (shared by both declared operating points). */
  private def bandingRecall(s: SparkSession, d: String, algo: String,
                            rowsPerBand: Int): DataFrame = {
    val truth = minhashTruthCached(s, d)
    val flags = sampFlags(s, d)
    val pairs = minhashPairs(s, d, rowsPerBand = rowsPerBand)
    // ONE pass over the pair table for BOTH counts (round 16 — the
    // old form scanned the millions of checkpointed pairs twice, once
    // under the flag joins for n_cand and once under a truth semi-join
    // for n_tp; two of the three jobs of a warm recall query):
    //  * sample membership stays the per-doc flag equi-join (see
    //    sampFlags — the per-pair HOF filter was ~40 s of the round-4
    //    bench), counted conditionally instead of filtered;
    //  * the truth semi-join becomes a LEFT join against the DISTINCT
    //    truth pair set (distinct by construction — d1<d2 through a
    //    distinct() and per-doc-unique attach joins), so count(t) ≡
    //    the semi-join count, evaluated in the same scan. The truth
    //    checkpoint reports its stored bytes (~86k rows at sf0.1), so
    //    the join broadcasts it at planning; at a scale where the
    //    truth outgrows the threshold the same plan degrades to a
    //    shuffle join of the single pass — still one pass.
    // n_cand counts pairs with a sampled side (f1 || f2); every truth
    // pair has a sampled side by construction, so n_tp over the
    // UNFILTERED pairs equals n_tp over the sampled candidates.
    val counts = pairs
      .join(flags.select(col("doc_id").as("d1"), col("samp").as("f1")), "d1")
      .join(flags.select(col("doc_id").as("d2"), col("samp").as("f2")), "d2")
      .join(truth.select(col("d1"), col("d2"), lit(1L).as("t")), Seq("d1", "d2"), "left")
      .agg(count(when(col("f1") || col("f2"), 1)).as("n_cand"),
        count(col("t")).as("n_tp"))
    // recall/precision NULL (not a crash) when a denominator is 0:
    // at a tiny SF or an unlucky sample n_truth/n_cand can be empty,
    // and Spark's ANSI division would raise where DuckDB yields NULL
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(counts)
      .select(lit(algo).as("algo"), col("n_truth"), col("n_cand"),
        col("n_tp"),
        round(when(col("n_truth") > 0, col("n_tp") / col("n_truth")), 6)
          .as("recall_at_09"),
        round(when(col("n_cand") > 0, col("n_tp") / col("n_cand")), 6)
          .as("precision_at_09"))
  }

  /** EXACT Jaccard ≥ 0.9 truth pairs `(d1 < d2)` with at least one
    * side in the deterministic 5% doc sample — the ground truth for
    * `minhash_recall`, built scale-safe. The round-4 shape joined the
    * sampled docs against ALL docs on the raw token key: cost
    * Σ_t sampled(t)·df(t), which Zipfian head tokens (stop words in
    * ~every doc) make quadratic — 99.45 s of the 207 s round-4 bench.
    * This build is [[jaccardPairs]] at t = 9/10 over the sorted token
    * arrays, probed by the sampled docs: prefix length ⌊|X|/10⌋ + 1,
    * so the candidate join keys on the RAREST ~10% of tokens, and the
    * position filter prunes the candidates to near the truth set
    * before the exact verification. Sample membership arrives via an
    * equi-join on the per-DOC flag table, never by evaluating the
    * md5-fold HOF per derived row. Result set is provably identical to
    * the unpruned join, so the unpruned DuckDB oracle stays the
    * independent cross-check. Package-private so ScaleShapeSpec can
    * assert the prefix filter is present on BOTH sides of the
    * token-keyed join (the spec fails on the round-4 shape), and for
    * the `builder_minhash_truth` shape row (the truth checkpoint hides
    * this plan from `minhash_recall`'s). */
  private[graft] def minhashTruthPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairs(docTokenArrays(s, d), 9, 10,
      Some(sampFlags(s, d).filter(col("samp")).select("doc_id"))).select("d1", "d2")

  /** Quotient-resolve threshold: largest quotient-graph edge count the
    * driver union-find small-side move accepts. At ~16 bytes/edge 1M
    * edges ≈ tens of MB of driver heap — well inside any realistic
    * `spark.driver.memory` (ScaleShapeSpec calls [[resolveGroups]]
    * with 0 to exercise the distributed branch). */
  private val QuotientMaxEdges = 1000000L

  /** Per-position successor window of the hot-bucket cap in
    * [[minhashPairs]]: each doc pairs with at most this many successors
    * inside one (band, bsig) bucket's sorted doc order, bounding any
    * bucket's pair fan-out to cap·|bucket| (linear) instead of
    * |bucket|²/2. Groups are invariant under the cap (consecutive
    * pairs always survive ⇒ buckets stay connected — MinhashCapSpec).
    * The default exceeds every fixture bucket (max ~2.5k docs at
    * sf0.1), so fixture pair surfaces are unchanged; override per
    * session via `spark.conf.set("graft.neardedup.bucketCap", n)`. */
  private[graft] def bucketCap(s: SparkSession): Int =
    s.conf.get("graft.neardedup.bucketCap", "4096").toInt

  /** Resolved near-dup groups `(group_id = component min doc_id,
    * member)`, memoized per (session, sfDir) within the JVM
    * — the `sweepCached` pattern (KMeansSweep): `near_dedup_groups`
    * and `dedup_survivors` share ONE MinHash→contract→resolve run
    * instead of re-deriving the whole DAG per declared query (~10 s of
    * duplicated bench work in round 2). The cached frame is a measured
    * checkpoint, so it stays DISTRIBUTED (never a driver
    * collect of the membership — at 100 TB that table can be huge) and
    * consumers read materialized partitions with truncated lineage.
    * Weak-keyed per session ([[graft.engine.SessionCache]]) so a frame
    * never outlives the session that built it. */
  private val groupCache = new graft.engine.SessionCache[DataFrame]

  private[graft] def resolvedGroups(s: SparkSession, d: String): DataFrame =
    groupCache.get(s, d) {
      MeasuredCheckpoint(resolveGroups(s, d, QuotientMaxEdges))
    }

  /** near-dup pair → GROUP resolution: connected components over the
    * MinHash candidate-pair graph. Two phases, both shuffle-bounded:
    * (1) CONTRACT — one aggregation gives every node the min doc_id
    *     over itself + direct neighbors; rewriting each pair through
    *     that labeling yields a quotient graph that is typically
    *     ORDERS OF MAGNITUDE smaller (near-dup graphs are dense:
    *     4.4M pairs over 5k nodes at sf0.1 contract to a few hundred
    *     label-edges), so the big edge list is scanned exactly once;
    * (2) RESOLVE the quotient graph: if it is small (≤ maxEdges —
    *     dedup graphs contract brutally), collect it and run driver
    *     union-find (the same adaptive small-side move AQE makes for
    *     broadcast joins); otherwise distributed min-label propagation
    *     WITH POINTER JUMPING (lbl ← lbl∘lbl each round): label trees
    *     halve in height per round, so convergence is O(log diameter)
    *     rounds — plain propagation needs O(diameter) rounds and a
    *     chain-shaped dup graph would blow any constant cap.
    *     Σ lbl is monotone ⇒ one aggregate per round detects the
    *     fixpoint; localCheckpoint truncates lineage per round.
    * Package-private (un-checkpointed) so ScaleShapeSpec can assert
    * hint discipline on the final join's analyzed plan.
    */
  private[graft] def resolveGroups(s: SparkSession, d: String, maxEdges: Long): DataFrame = {
    // already a measured checkpoint via pairsCache — no persist needed
    val pairs = minhashPairs(s, d)
    val lbl0 = pairs.select(col("d1").as("node"), col("d2").as("nb"))
      .union(pairs.select(col("d2").as("node"), col("d1").as("nb")))
      .groupBy("node").agg(min("nb").as("mnb"))
      .select(col("node"), least(col("node"), col("mnb")).as("lbl"))
      .localCheckpoint(true)
    // broadcast of the label table is bounded by the pair-graph node
    // count (≪ corpus); at 100 TB drop the hint and AQE shuffles
    // both sides on doc_id instead
    val e0 = pairs
      .join(broadcast(lbl0.select(col("node").as("d1"), col("lbl").as("l1"))), "d1")
      .join(broadcast(lbl0.select(col("node").as("d2"), col("lbl").as("l2"))), "d2")
      .select(col("l1").as("a"), col("l2").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val quotientEdges = e0.count()
    val quotientSmall = quotientEdges <= maxEdges
    System.err.println(s"[graft] near_dedup_groups($d): quotient=$quotientEdges edges" +
      s" (threshold $maxEdges) -> ${if (quotientSmall) "driver union-find" else "distributed label propagation"}")
    val resolved: DataFrame =
      if (quotientSmall) {
        // driver union-find, roots = component min (attach the
        // larger root beneath the smaller)
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        e0.collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val sp = lbl0.sparkSession
        import sp.implicits._
        parent.keys.toSeq.map(x => (x, find(x))).toDF("lbl", "flbl")
      } else resolveDistributed(e0)
    // member → initial label → (resolved quotient label, or the
    // initial label itself when its quotient node was isolated).
    // Broadcast only on the small-quotient path — on the distributed
    // path the label table can be arbitrarily large, which is the
    // very reason that branch avoids driver state
    val resolvedSide = if (quotientSmall) broadcast(resolved) else resolved
    lbl0.join(resolvedSide, Seq("lbl"), "left")
      .select(coalesce(col("flbl"), col("lbl")).as("group_id"), col("node").as("member"))
  }

  /** Distributed connected-components over a directed edge list
    * `(a, b)` — min-label propagation with POINTER JUMPING, converging
    * in O(log diameter) rounds (plain propagation is O(diameter): a
    * chain-shaped dup graph would blow any constant round cap — the
    * exact pathology LabelPropagationSpec pins with 200-node chains).
    * Returns `(lbl = node, flbl = component min)`. Package-private so
    * the spec can drive it with synthetic graphs directly. */
  private[graft] def resolveDistributed(e0: DataFrame): DataFrame = {
    // symmetrized edge list, materialized ONCE (scanned every
    // round). No Union survives into the loop below — a Union
    // re-read through per-round self-joins trips Catalyst's union
    // constraint rewrite on shared expression ids (hit when this
    // branch gained test coverage; the joins below are immune).
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var lbl = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    def sig(df: DataFrame): Long = {
      val r = df.agg(sum("lbl")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSig = sig(lbl)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // neighbor-min as join+agg (union-free): mnb(v) = min lbl(u)
      // over edges (v,u); nodes keep their own label via the left
      // join + least
      val nbmin = edges.join(
          lbl.select(col("node").as("nbNode"), col("lbl").as("nbLbl")),
          edges("b") === col("nbNode"))
        .groupBy(edges("a")).agg(min(col("nbLbl")).as("mnb"))
        .select(col("a").as("mnode"), col("mnb"))
      val prop = lbl.join(nbmin, col("node") === col("mnode"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("mnb"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      // pointer jump: labels are themselves node ids (min over a
      // closed neighborhood of node ids), so one self-join of the
      // just-materialized prop re-points every node at its label's
      // label — the step that makes convergence logarithmic in
      // component diameter
      val next = prop.as("x")
        .join(prop.select(col("node").as("pn"), col("lbl").as("plbl")),
          col("x.lbl") === col("pn"), "left")
        .select(col("x.node").as("node"),
          coalesce(col("plbl"), col("x.lbl")).as("lbl"))
        .localCheckpoint(true)
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      lbl = next
      rounds += 1
    }
    require(converged, s"resolveDistributed: no fixpoint after $rounds rounds")
    lastResolveRounds = rounds
    lbl.select(col("node").as("lbl"), col("lbl").as("flbl"))
  }

  /** Rounds the last resolveDistributed run took — spec observability
    * only (asserting the logarithmic bound on synthetic graphs). */
  @volatile private[graft] var lastResolveRounds: Int = -1

  /** The XOR masks of popcount ≤ 3 over 16 bits, mask 0 included:
    * 1 + 16 + 120 + 560 = 697. `h ^ mask` over them is exactly the
    * Hamming ball of radius 3 around a signature h, the probe set of
    * `simhash_dedup`. */
  private[graft] val simhashMasks: Seq[Long] =
    (0L until (1L << 16)).filter(m => java.lang.Long.bitCount(m) <= 3)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #17 exact dedup: group by text digest, keep min doc_id
    "exact_dedup" -> ((s, d) =>
      docs(s, d)
        .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
        .select("keeper", "copies")
        .orderBy("keeper")),

    // #18 MinHash/LSH near-dup candidate pair surface
    "minhash_near_dedup" -> ((s, d) =>
      minhashPairs(s, d).orderBy("d1", "d2")),

    // near-dup pair → GROUP resolution (see resolveGroups above).
    // Output: (group_id = component min doc_id = the keeper, member).
    "near_dedup_groups" -> ((s, d) =>
      resolvedGroups(s, d).orderBy("group_id", "member")),

    // near-dup GROUP SIZE histogram — the dedup report a pipeline
    // publishes (how much mass sits in how-large clusters). Reads the
    // memoized group resolution (no extra MinHash work) and runs two
    // tiny hash aggs.
    "dedup_cluster_stats" -> ((s, d) =>
      resolvedGroups(s, d)
        .groupBy("group_id").agg(count(lit(1)).as("gsz"))
        .groupBy("gsz").agg(count(lit(1)).as("n_groups"))
        .orderBy("gsz")),

    // What the near-dedup actually REMOVES, in tokens, per source —
    // the corpus-accounting report next to the structural audits
    // (`dedup_cluster_stats` counts groups; this prices the drop in
    // training-token budget, the unit curators actually plan in).
    // Losers = non-keeper members of the memoized group resolution
    // (min-id keeper, the exact_dedup discipline). Scale shape: the
    // loser table is bounded by the dup-graph node count (≪ corpus);
    // one left equi-join on doc_id + one (source) hash agg; the
    // share is a single division of two exact integer sums (§7.6).
    "dedup_token_mass" -> ((s, d) => {
      val losers = resolvedGroups(s, d)
        .filter(col("member") =!= col("group_id"))
        .select(col("member").as("doc_id"), lit(1L).as("lost"))
      docs(s, d).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .join(losers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lost").isNotNull, 1L).otherwise(0L)).as("n_lost_docs"),
          sum("tok").as("n_tokens"),
          sum(when(col("lost").isNotNull, col("tok")).otherwise(0L)).as("n_lost_tokens"),
          round(sum(when(col("lost").isNotNull, col("tok")).otherwise(0L))
            / sum("tok").cast("double"), 6).as("lost_token_share"))
        .orderBy("source")
    }),

    // Token co-occurrence PMI over document-level presence (p(t) =
    // df/N): the collocation screen (phrase mining / tokenizer-merge
    // candidates). Pairs come map-side from each doc's distinct token
    // set (per-doc quadratic in its ~dozens of tokens, never
    // corpus-quadratic), with a min-support filter (co-df ≥ 5)
    // so the output — and at 100 TB the pair aggregation — stays
    // bounded. PMI's ln is one transcendental under ROUND(·,6).
    "cooccurrence_pmi" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      val df_ = distinctTokens(s, d).groupBy("token").agg(count(lit(1)).as("df"))
      // pair surface is MAP-SIDE (codegen'd `token_pairs` kernel): a
      // doc's distinct tokens live in its own row, so the per-doc
      // sorted-pair fabrication needs neither side of the former
      // doc-local self-join (two doc_id exchanges of the exploded
      // token rows + the join) — only the (t1, t2) partial-agg
      // shuffle remains, and partial aggregation collapses repeats
      // before the exchange. Per-doc quadratic bound unchanged. The
      // kernel reads the MEMOIZED sorted distinct-token arrays (the
      // exact-Jaccard substrate) so this query adds no documents scan
      // of its own (ScanAuditSpec allowance: 1, the n scalar).
      val co = docTokenArrays(s, d)
        .select(explode(expr("token_pairs(arr)")).as("p"))
        .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      co.join(broadcast(df_.select(col("token").as("t1"), col("df").as("df1"))), "t1")
        .join(broadcast(df_.select(col("token").as("t2"), col("df").as("df2"))), "t2")
        .crossJoin(broadcast(n))
        .select(col("t1"), col("t2"), col("n_ab"),
          round(log(col("n_ab") * col("n") / (col("df1") * col("df2"))), 6).as("pmi"))
        .orderBy("t1", "t2")
    }),

    // MOSS winnowing fingerprints: per-position trigram hashes, MIN
    // over each w=4 sliding window (full windows only), distinct
    // selected hashes per doc — the positional fingerprint family
    // robust to local edits (the plagiarism-detection twin of
    // doc_fingerprint's rolling hash).
    "winnow_fingerprint" -> ((s, d) => {
      // The whole winnow selection is WHOLE-DOCUMENT: every trigram
      // position of a doc lives in its own row, so the per-doc
      // (count, min, max) over the distinct window mins is one
      // generated pass in the `winnow_stats` kernel — the former
      // posexplode → doc_id-window(count, sliding min) → distinct →
      // groupBy chain paid a doc_id exchange, two window sorts, a
      // distinct shuffle and an agg shuffle for rows the kernel never
      // materializes (NgramFoldSpec pins the swap bit-for-bit; docs
      // with no full window return null = the rows the full-window
      // filter used to empty out of the groupBy).
      graft.engine.expr.GraftFunctions.register(s)
      val w = foldWidth(s)
      docs(s, d)
        .select(col("doc_id"),
          expr(s"winnow_stats(split(text, ' '), 3, $w)").as("st"))
        .filter(col("st").isNotNull)
        .select(col("doc_id"), col("st.n_fp").as("n_fp"),
          col("st.min_fp").as("min_fp"), col("st.max_fp").as("max_fp"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup: 16-bit signed-sum signature over token counts,
    // candidate pairs within Hamming distance 3. Candidates come from
    // a HAMMING-BALL PROBE of the distinct-signature set (see
    // [[simhashMasks]]) — never an n² loop.
    // Per-(token, bit) sign = parity of the (j+1)-th hex digit of
    // md5(token): independent well-mixed bits both engines compute
    // identically (an LCG-parity variant measured 2.5× denser pair
    // output on the low-entropy fixture vocabulary — poorly mixed
    // signs make all signatures collapse toward each other).
    "simhash_dedup" -> ((s, d) => {
      // the 16-bit signature is MAP-SIDE (codegen'd `simhash16`
      // kernel): Σ cnt·sign over distinct tokens IS Σ sign over the
      // token multiset, all exact integers, so the per-doc signature
      // needs neither the (doc_id, token) count shuffle nor the
      // 16-column agg the former plan paid (the kernel's count map
      // only avoids re-digesting repeated tokens). NgramFoldSpec pins
      // the kernel against an independent JVM model of the published
      // formula; the DuckDB oracle still computes it the exploded way.
      // THREE consumers read the signature table (distinct-sig dim,
      // two doc-expansion joins), so it is a projection of the
      // checkpointed per-doc feature table: the
      // corpus scan and the per-token digests run once per memo epoch
      // (the plan audit showed 5 parquet scans before any checkpoint);
      // the kernel pin lives on docFeaturesPlan.
      val sh = docFeatures(s, d).select("doc_id", "simhash")
      // The probe runs on the DISTINCT-SIGNATURE dim, ≤ 2^16 rows at
      // ANY corpus size (the low-entropy fixture collapses 5k docs
      // onto far fewer), so the set always broadcasts. Each signature
      // h1 crossed with every mask of popcount ≤ 3 enumerates its whole
      // Hamming ball h2 = h1 ^ mask, and a broadcast lookup keeps the
      // h2 that occur: COMPLETE for ham ≤ 3 by construction, with no
      // candidate that fails the bound and no shuffle. Keeping
      // h1 ≤ h2 yields each signature pair once (mask 0 gives h1 = h2).
      // At 2^16 signatures this emits at most ~22.8M pairs, where the
      // former 4×4-bit band self-join emitted ~537M band collisions
      // into a distinct.
      val sigs = sh.select("simhash").distinct()
      val sigPairs = sigs
        .select(col("simhash").as("h1"), explode(typedLit(simhashMasks)).as("mask"))
        .withColumn("h2", col("h1").bitwiseXOR(col("mask")))
        .filter(col("h1") <= col("h2"))
        .join(broadcast(sigs.select(col("simhash").as("h2"))), "h2")
        .select(col("h1"), col("h2"), bit_count(col("mask")).as("ham"))
      // signature pairs expand to doc pairs (each doc has ONE
      // signature, so every output pair is emitted exactly once): a
      // pair of distinct signatures keeps every doc pair across them,
      // and one signature with itself keeps its docs' pairs x1 < x2
      sigPairs
        .join(sh.select(col("doc_id").as("x1"), col("simhash").as("h1")), "h1")
        .join(sh.select(col("doc_id").as("x2"), col("simhash").as("h2")), "h2")
        .filter(col("h1") < col("h2") || col("x1") < col("x2"))
        .select(least(col("x1"), col("x2")).as("d1"),
          greatest(col("x1"), col("x2")).as("d2"), col("ham"))
        .orderBy("d1", "d2")
    }),

    // n-gram (word-trigram) Jaccard near-dup, threshold 0.5: the
    // PPJoin of [[jaccardPairs]] (rarest-first prefix, position
    // filter, exact verification) over the per-doc trigram-id SETS.
    // Those are the shared memoized [[docTrigramIdArrays]] table — one
    // row per doc, built map-side (no explode/distinct/collect_list
    // shuffles; the former fold+distinct above the n-gram checkpoint
    // was recomputed by every consumer subtree and dominated this
    // query's ~8 s). Trigrams are FOLDED to 32-bit ids (native
    // fold_hex of md5, the TOK discipline, mirrored in the oracle):
    // long arrays intersect several times faster than ~20-char string
    // arrays (measured 5.2 s → the dominant cost at sf0.1). A fold
    // collision merges the same two trigrams in BOTH engines, so
    // parity holds exactly as for token ids. ROUND sits in the
    // projected output only; the threshold is on the unrounded ratio.
    "ngram_jaccard_dedup" -> ((s, d) =>
      jaccardPairs(docTrigramIdArrays(s, d), 1, 2)
        .select(col("d1"), col("d2"), round(col("i") / col("u"), 6).as("jac"))
        .orderBy("d1", "d2")),

    // #21 per-language token stats
    "text_tokenize_stats" -> ((s, d) =>
      tokens(docs(s, d))
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_tokens"),
          countDistinct("token").as("n_distinct"),
          round(count(lit(1)) / countDistinct("doc_id"), 6).as("avg_tokens_per_doc"))
        .orderBy("lang")),

    // #22 top-5 TF-IDF terms per source
    "tf_idf_top_terms" -> ((s, d) => {
      // Document frequency reads the MEMOIZED distinct (doc_id, token)
      // checkpoint (the substrate the whole dedup family shares): the
      // per-doc-distinct pairs are globally distinct under the
      // primary-key contract (Tables.requirePk — duplicate doc_ids
      // fail the LOAD, they never reach a query), so COUNT(*) here IS
      // COUNT(DISTINCT doc_id) — the exact argument minhashTruthPairs
      // already ships for its df. That replaces the countDistinct
      // expand (partial-distinct exchange + final exchange, with the
      // full multiplicity-bearing token stream into the first) with
      // ONE map-side-combinable count (guide §2.3 "aggregate before
      // you shuffle"; VERDICT r15 next-round #5). tf is then the token
      // stream's SOLE consumer, so the query-local eager checkpoint
      // (a full materialization barrier) is gone too — tf aggregates
      // straight off the explode with map-side partials.
      val tf = tokens(docs(s, d)).groupBy("source", "token").agg(count(lit(1)).as("tf"))
      val dfreq = distinctTokens(s, d).groupBy("token").agg(count(lit(1)).as("df"))
      val dn = docs(s, d).agg(count(lit(1)).as("dn"))
      val w = Window.partitionBy("source").orderBy(desc("score"), col("token"))
      tf.join(broadcast(dfreq), "token").crossJoin(broadcast(dn))
        .withColumn("score", round(col("tf") * log((col("dn") + 1) / (col("df") + 1)), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("source", "rn", "token", "score").orderBy("source", "rn")
    }),

    // #23 lang × source distribution (declared unpivoted, §2 #23)
    "lang_source_matrix" -> ((s, d) =>
      docs(s, d).groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy("lang", "source")),

    // pivoted form of #23 — exercises RelationalGroupedDataset.pivot
    // with an explicit (deterministic) column list; oracled via
    // DuckDB's PIVOT ... IN (...) with COALESCE zero-fill matching
    // .na.fill(0)
    "lang_source_pivot" -> ((s, d) =>
      docs(s, d).groupBy("lang")
        .pivot("source", (0 until 20).map(i => s"src$i"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("lang")),

    // language-ID heuristic: token → dominant lang (by corpus counts,
    // alphabetical tie-break), doc → majority token-lang vote.
    "lang_id" -> ((s, d) => {
      // both "pick the best row per key" steps are ARGMAX patterns:
      // min(struct(-count, tie-break…)) inside a hash aggregate picks
      // the same row as the former row_number()-over-(count DESC,
      // tie ASC) window filter (struct ordering is field-by-field),
      // without the per-key sort or the whole-partition window buffer
      // — and partial aggregation collapses rows before each exchange,
      // which the rank window could never do.
      val tok = tokens(docs(s, d)).select("doc_id", "lang", "token")
      val tlang = tok.groupBy("token", "lang").agg(count(lit(1)).as("c"))
        .groupBy("token")
        .agg(min(struct((-col("c")).as("nc"), col("lang").as("tlang"))).as("m"))
        .select(col("token"), col("m.tlang").as("tlang"))
      val votes = tok.join(broadcast(tlang), "token")
        .groupBy("doc_id", "lang", "tlang").agg(count(lit(1)).as("v"))
      votes.groupBy("doc_id")
        .agg(min(struct((-col("v")).as("nv"), col("tlang").as("tlang"),
          col("lang").as("lang"))).as("m"))
        .select(col("doc_id"), col("m.tlang").as("pred"), col("m.lang").as("lang"),
          when(col("m.tlang") === col("m.lang"), 1).otherwise(0).as("hit"))
        .orderBy("doc_id")
    }),

    // quality scoring: token counts, distinct ratio, avg token length
    "quality_score" -> ((s, d) => {
      val arr = split(col("text"), " ")
      docs(s, d).select(
        col("doc_id"),
        size(arr).as("n_tok"),
        round(size(array_distinct(arr)) / size(arr).cast("double"), 6).as("distinct_ratio"),
        round((length(col("text")) - (size(arr) - 1)) / size(arr).cast("double"), 6).as("avg_tok_len"),
        round((size(array_distinct(arr)) / size(arr).cast("double"))
          * least(lit(1.0), size(arr) / lit(50.0)), 6).as("score"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace split vs BPE-ish regex
    "token_count_regex" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|\\S"), lit(0))).as("n_bpe"))
        .orderBy("doc_id")),

    // positional rolling-hash document fingerprint:
    // fp = Σ (tid_pos · ((pos·131+7) mod P)) mod P, all mod P
    "doc_fingerprint" -> ((s, d) => {
      val tok = tokens(docs(s, d)).select(col("doc_id"), (col("pos") + 1).as("p"), col("token"))
      withTid(tok)
        .select(col("doc_id"), (col("tid") * ((col("p") * 131 + 7) % P) % P).as("term"))
        .groupBy("doc_id").agg((sum("term") % P).as("fp"))
        .orderBy("doc_id")
    }),

    // deterministic stratified train/val/test split: bucket =
    // md5-fold(text) mod 10 → 0-7 train, 8 val, 9 test. Pure per-row
    // arithmetic (no sampling state, no shuffle beyond the count agg),
    // reproducible across engines AND across runs/partitionings — the
    // property a 100 TB pipeline split needs (re-running on different
    // cluster sizes must not move documents between splits).
    "stratified_split" -> ((s, d) =>
      withFoldHash(docs(s, d), "text", "hb")
        .withColumn("b", col("hb") % 10)
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "val").otherwise("test"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    // the SURVIVING CORPUS after near-dedup: drop every non-keeper
    // member of a near-dup group (keeper = component min doc_id, from
    // near_dedup_groups); what a training pipeline actually feeds
    // downstream. Consumes the MEMOIZED group resolution (one
    // MinHash→contract→resolve run shared with near_dedup_groups).
    // Broadcast anti-join: the loser set is bounded by the near-dup
    // group membership (≪ corpus).
    "dedup_survivors" -> ((s, d) => {
      val losers = resolvedGroups(s, d)
        .filter(col("member") =!= col("group_id"))
        .select(col("member").as("doc_id"))
      docs(s, d).join(broadcast(losers), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // SEQUENCE PACKING — the pretraining step that concatenates docs
    // into fixed-token-budget training sequences, as a deterministic
    // DISTRIBUTED approximation of greedy packing: docs hash-shard
    // (16 ways — at real scale, one shard per output file), each shard
    // packs independently by running token cumsum, and a doc's pack is
    // the budget-quotient of its START offset (an oversized doc simply
    // spans past its budget — the standard streaming-pack behavior).
    // Every step is per-row arithmetic or a PARTITIONED window —
    // shuffle-bounded, reproducible across runs and partitionings
    // (same property as stratified_split). Output: per-(shard, pack)
    // doc count, token count, fill ratio vs the 512-token budget.
    "sequence_pack" -> ((s, d) => {
      val budget = 512
      val t = withFoldHash(docs(s, d), "text", "hb")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
          pmod(col("hb"), lit(16)).as("shard"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
      t.withColumn("cum", sum("n_tok").over(w))
        .withColumn("pack_id", floor((col("cum") - col("n_tok")) / lit(budget.toDouble)).cast("long"))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        .withColumn("fill", round(col("tokens") / lit(budget.toDouble), 6))
        .orderBy("shard", "pack_id")
    }),

    // BENCHMARK DECONTAMINATION — the training-pipeline op that keeps
    // eval data out of the training corpus: 8-token-shingle containment
    // of every candidate training doc (source ≠ src0) against the
    // "benchmark" set (source = src0 stands in for the eval corpus).
    // Scale shape: the shingle sets meet in an EQUI-JOIN on the
    // shingle string (left_semi — shuffle-bounded on the shingle key,
    // never doc×doc); at 100 TB the eval side is tiny and AQE
    // broadcasts it. Contamination = |train-shingles ∩ eval-shingles|
    // / |train-shingles| — one exact int division; only contaminated
    // docs (n_hit > 0: no row past the semi-join otherwise) surface.
    "decontaminate_ngram" -> ((s, d) =>
      shingleHits(s, d, col("source") =!= "src0", ngramSetCached(s, d, 8, Seq("source"))
        .filter(col("source") === "src0").select(col("ng").as("sh")).distinct(), "contamination")),

    // multimodal/byte surface: opaque bytes + typed digests (zh docs
    // make octet_length ≠ char length)
    "q_multimodal_bytes" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("nbytes"),
        length(col("text")).as("nchars"),
        md5(col("text").cast("binary")).as("md5h"),
        sha2(col("text").cast("binary"), 256).as("sha256h"))
        .orderBy("doc_id")),

    // Gopher-style repetition signals per document: total/distinct
    // token counts and the dominant token's share — the "most-common-
    // word fraction" quality gate a pretraining filter applies before
    // dedup. Two chained hash aggregations keyed by doc_id (partial+
    // final, one shuffle); no windows, no sort beyond the output.
    // per-doc repetition sufficient stats come from the codegen'd
    // map-side `word_stats` kernel (a doc's tokens live in its own
    // row — the former explode → (doc, token) count → per-doc agg
    // paid a corpus shuffle for per-row math; NgramFoldSpec pins the
    // kernel against that composition)
    "repetition_score" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      // null-text guard: match the explode-form/oracle row universe
      // (no row), not a null-stats row — see minhashSignatures
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), expr("word_stats(split(text, ' '))").as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.n_distinct").as("n_distinct"), col("st.top_c").as("top_c"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_c"),
          round(col("top_c") / col("n_tokens"), 6).as("top_ratio"),
          round(col("n_distinct") / col("n_tokens"), 6).as("distinct_ratio"))
        .orderBy("doc_id")
    }),

    // The Gopher-style repetition FILTER's threshold-picking table
    // (the `dedup_threshold_sweep` discipline applied to
    // `repetition_score`'s signal): at each dominant-token-share cut
    // t% ∈ {10..50}, how many docs and how much token mass a
    // "drop docs whose top token exceeds t% of tokens" rule removes.
    // The compare is EXACT integer cross-multiplication
    // (100·top_c > t·n_tokens — no float boundary can flip a doc),
    // shares are single divisions of exact integer sums. Scale shape:
    // one map-side `word_stats` pass × 5 broadcast threshold rows →
    // one 5-group hash agg; adding this measurement angle costs one
    // aggregation, not one pipeline.
    "repetition_filter_sweep" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      // null-text guard: see repetition_score
      val st = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), expr("word_stats(split(text, ' '))").as("st"))
        .select(col("st.n_tokens").as("n"), col("st.top_c").as("tc"))
      val cuts = s.range(1, 6).select((col("id") * 10).as("t"))
      st.crossJoin(broadcast(cuts))
        .groupBy("t")
        .agg(count(lit(1)).as("docs_total"),
          sum(col("n")).as("tokens_total"),
          sum(when(col("tc") * 100 > col("t") * col("n"), 1L).otherwise(0L))
            .as("docs_dropped"),
          sum(when(col("tc") * 100 > col("t") * col("n"), col("n")).otherwise(0L))
            .as("tokens_dropped"))
        .select(col("t"), col("docs_total"), col("docs_dropped"),
          col("tokens_total"), col("tokens_dropped"),
          round(col("tokens_dropped") / col("tokens_total"), 6).as("dropped_share"))
        .orderBy("t")
    }),

    // per-language EXACT continuous quantiles of document token counts
    // (p25/p50/p75/p95) — the length-distribution screen run before
    // choosing a packing budget. Spark's `percentile` and DuckDB's
    // `quantile_cont` both linear-interpolate over the sorted values,
    // so the comparison is exact at ROUND(·,6). Per-group sort of a
    // 5-group aggregation — at 100 TB the same plan holds because the
    // cardinality that is sorted is rows-per-lang, already shuffled
    // to one partition per group key by the aggregation.
    "token_length_quantiles" -> ((s, d) => {
      val tl = docs(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      tl.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          round(percentile(col("n_tok"), lit(0.25)), 6).as("p25"),
          round(percentile(col("n_tok"), lit(0.5)), 6).as("p50"),
          round(percentile(col("n_tok"), lit(0.75)), 6).as("p75"),
          round(percentile(col("n_tok"), lit(0.95)), 6).as("p95"))
        .orderBy("lang")
    }),

    // staged quality-filter funnel: the composition layer a
    // pretraining pipeline actually runs — length gate, then
    // dominant-token repetition gate, then diversity gate, each stage
    // counted on top of the previous ones (funnel semantics, not
    // independent filters). ONE pass computes the per-doc stats; the
    // funnel is conditional sums in a single aggregation unpivoted to
    // (stage, n_surviving) rows — no per-stage rescan.
    "quality_funnel" -> ((s, d) => {
      val tc = tokens(docs(s, d)).groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"), count(lit(1)).as("n_dis"), max("c").as("top_c"))
      val f1 = col("n_tok") >= 20 && col("n_tok") <= 500
      val f2 = f1 && col("top_c") / col("n_tok") <= 0.2
      val f3 = f2 && col("n_dis") / col("n_tok") >= 0.3
      tc.agg(count(lit(1)).as("s0_all"),
          sum(when(f1, 1L).otherwise(0L)).as("s1_length"),
          sum(when(f2, 1L).otherwise(0L)).as("s2_repetition"),
          sum(when(f3, 1L).otherwise(0L)).as("s3_diversity"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("s0_all"), col("s1_length"), col("s2_repetition"), col("s3_diversity")),
          "stage", "n_surviving")
        .orderBy("stage")
    }),

    // corpus mix rebalance: per-source share of the corpus and the
    // up/down-sampling weight that would flatten it to the uniform
    // 1/20 target mix — the knob a data-mixing pipeline derives before
    // sampling. Totals ride along via a broadcast cross join (never an
    // unpartitioned window).
    "corpus_mix" -> ((s, d) => {
      val bySrc = docs(s, d).groupBy("source").agg(count(lit(1)).as("n"))
      val tot = docs(s, d).agg(count(lit(1)).as("total"))
      bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          round(col("n") / col("total"), 6).as("frac"),
          round(lit(0.05) * col("total") / col("n"), 6).as("weight"))
        .orderBy("source")
    }),

    // MinHash banding quality, MEASURED (the dedup twin of
    // `ann_recall`): recall and precision of the b=2×r=4 banding
    // candidates against EXACT token-set Jaccard ≥ 0.9 truth — 0.9,
    // not the verify threshold 0.5, because the banding S-curve
    // 1−(1−J⁴)² targets J ≈ (1/b)^(1/r) ≈ 0.84 (candidates at
    // J ∈ [0.5, 0.9) are bonus, not the contract). Truth is computed
    // on a DETERMINISTIC 5% hash-sample of query docs — the
    // measurement design that still works at 100 TB, where full
    // pairwise truth is off the table; the sample predicate is pure
    // per-row arithmetic (md5-fold of doc_id, no sampling state, no
    // broadcast of a sample list), so both engines and any cluster
    // size agree on the sample.
    "minhash_recall" -> (bandingRecall(_, _, "minhash_b2r4", rowsPerBand = 4)),

    // the PRECISION-oriented operating point on the same 8 min-hashes:
    // one band of all 8 (b=1×r=8), S-curve J⁸ — P(candidate) at
    // J = 0.9 is 0.43, at J = 1 is 1, so recall@0.9 drops while the
    // candidate set collapses toward true dups (≈13× fewer candidates
    // than b=2×r=4 at sf0.1). Measured next to `minhash_recall`, the
    // two rows give a user tuning b×r the real tradeoff curve on
    // their corpus. (b=4×r=2 was measured and REJECTED as an
    // operating point: with r=2 the band join explodes on dup-dense
    // corpora — 20.7M join pairs vs 4.4M at sf0.1 — the quadratic
    // regime the rowsPerBand=4 default exists to avoid.)
    "minhash_recall_b1r8" -> (bandingRecall(_, _, "minhash_b1r8", rowsPerBand = 8)),

    // tokenizer-vocabulary coverage: the share of each document's
    // token OCCURRENCES covered by the top-10 corpus tokens (count
    // desc, token asc tie-break — a deterministic vocabulary). The
    // screen run before fixing a tokenizer vocab: low coverage docs
    // are the ones a small vocab shatters into rare pieces. Scale
    // shape: the vocab is a top-k aggregate (tiny) BROADCAST to the
    // per-doc coverage join — the corpus-wide term table never
    // re-shuffles per doc.
    "vocab_coverage" -> ((s, d) => {
      val tok = tokens(docs(s, d)).select("doc_id", "token")
      // top-k as TakeOrdered (per-partition partial top-10 → merge),
      // NOT a global row_number window (one task over the whole
      // distinct-token table at corpus scale)
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("token")).limit(10)
        .select("token")
      tok.join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(coalesce(col("in_vocab"), lit(0))).as("n_covered"))
        .select(col("doc_id"), col("n_tokens"), col("n_covered"),
          round(col("n_covered") / col("n_tokens"), 6).as("coverage"))
        .orderBy("doc_id")
    }),

    // PII-scrub shape: mask digit runs in an id-bearing column and
    // report per-nation scrub stats (names scrubbed, digit chars
    // removed, distinct surviving forms). The fixture has no real PII
    // (synthetic `Customer#NNNNNNNNN` names), so the DISCRIMINATING
    // signal is the regex transform itself: both engines must agree on
    // every replacement ('[0-9]+' → '#', global) and on the per-char
    // digit count. Pure per-row regex + one hash aggregation.
    // Unigram LM negative log-likelihood per document — the CCNet-
    // style perplexity quality filter (docs far from the corpus
    // distribution score high). p(t) = corpus occurrence share;
    // nll(doc) = −Σ ln p(t) / n_tok over token OCCURRENCES. Scale
    // shape: one hash agg for the LM, one equi-join token→prob (AQE
    // broadcasts small vocabs, shuffles big ones), one per-doc hash
    // agg — no windows, no driver state. Transcendental sum under the
    // repo's ROUND(·,6) discipline.
    "unigram_logppl" -> ((s, d) => {
      // three consumers read the token stream (LM counts, the corpus
      // total, the per-doc scoring join) — eagerly checkpoint it so
      // the documents explode runs once per execution (the dsir
      // double-compute discipline; the scan audit counted 3)
      val tok = tokens(docs(s, d)).select("doc_id", "token")
        .localCheckpoint(true)
      val cnt = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n"))
      tok.join(cnt, "token").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(-(sum(log(col("c") / col("n"))) / count(lit(1))), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // Token-budget downsampling: every source is deterministically
    // thinned to at most the MEDIAN source's token mass (the corpus-
    // rebalancing step before training-mix assembly; self-normalizing
    // across SFs). keep-rate_s = min(1, median/tokens_s); a doc
    // survives iff md5-fold(doc_id) mod 1e6 < rate·1e6 — pure per-row
    // arithmetic against a 20-row broadcast rate table, so any
    // cluster size and both engines agree doc-by-doc. Declared output
    // is the per-source audit (kept docs/tokens, rate_ppm). The audited
    // rate is exported as exact-integer parts-per-million (SURVEY §7.6
    // rule b: no float in a hashed output column — round(double, 6)
    // sits arbitrarily close to rounding boundaries). med2 = 2·median
    // is integral for any source count (midpoint of two BIGINTs), so
    // rate_ppm = floor(med·1e6/src_tok) = (med2·1e6) div (2·src_tok)
    // is computed entirely in BIGINT on both engines. The keep-decision
    // predicate itself is unchanged (same IEEE double compare per row).
    "token_budget_sample" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      val w = foldWidth(s)
      // the per-doc token-count table feeds the rate build AND the
      // final keep-join — checkpoint it so the text column is read
      // once per execution
      val dt = docs(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
        .localCheckpoint(true)
      val bySrc = dt.groupBy("source").agg(sum("n_tok").as("src_tok"))
      val med = bySrc.agg(
        (expr("percentile(src_tok, 0.5)") * 2).cast("long").as("med2"))
      val rates = bySrc.crossJoin(broadcast(med))
        .select(col("source"),
          least(lit(1.0), col("med2") / lit(2.0) / col("src_tok")).as("rate"),
          least(lit(1000000L),
            expr("(med2 * 1000000) div (2 * src_tok)")).as("rate_ppm"))
      dt.join(broadcast(rates), "source")
        .filter(expr(s"fold_hex(md5(CAST(doc_id AS STRING)), $w) % 1000000") < col("rate") * 1e6)
        .groupBy("source")
        .agg(count(lit(1)).as("docs_kept"), sum("n_tok").as("tokens_kept"),
          max("rate_ppm").as("rate_ppm"))
        .orderBy("source")
    }),

    // Per-domain token CAP — the hard-bound sibling of
    // `token_budget_sample`: rate-based thinning is iid (a heavy
    // domain still lands heavy-tailed), while the cap truncates each
    // source's doc stream (doc_id order) once its running token total
    // exceeds the budget — "no domain exceeds X tokens", the other
    // knob a training-mix assembler turns. Cap = half the MEDIAN
    // source's token mass, exact-integer med2 div 4 (self-normalizing
    // across SFs, same integral-midpoint discipline as
    // token_budget_sample). Scale shape: ONE window cumsum partitioned
    // by source — at production scale the partition key is the domain
    // (millions of balanced partitions); the 20-source fixture is the
    // validation shape, not the plan's limit.
    "domain_token_cap" -> ((s, d) => {
      val dt = docs(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val cap = dt.groupBy("source").agg(sum("n_tok").as("src_tok"))
        .agg((expr("percentile(src_tok, 0.5)") * 2).cast("long").as("med2"))
        .select(expr("med2 div 4").as("cap_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dt.withColumn("cum_tok", sum("n_tok").over(w))
        .crossJoin(broadcast(cap))
        .filter(col("cum_tok") <= col("cap_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs_kept"), sum("n_tok").as("tokens_kept"),
          max("cap_tok").as("cap_tok"))
        .orderBy("source")
    }),

    // First-seen n-gram NOVELTY: the share of each document's distinct
    // trigrams appearing in NO lower-id document — the freshness
    // screen that separates near-boilerplate (novelty→0) from
    // genuinely new text (novelty→1) when curating a crawl in arrival
    // order. Scale shape: first_doc is one hash agg (min doc_id per
    // trigram-id) over the SHARED map-side [[docTrigramIdArrays]]
    // table (same folded-id universe as `ngram_jaccard_dedup` — a
    // fold collision merges the same trigrams in both engines), joined
    // back on the id key — no windows, no pairwise joins; docs with <3
    // tokens have no trigrams and emit no row (both engines agree).
    "ngram_novelty" -> ((s, d) => {
      val tri = docTrigramIdArrays(s, d)
        .select(col("doc_id"), explode(col("arr")).as("ng"))
      val first = tri.groupBy("ng").agg(min("doc_id").as("first_doc"))
      tri.join(first, "ng")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
          round(col("n_novel") / col("n_ngrams"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // Fixed-size overlapping CHUNKING — the RAG-index / pretraining
    // context-window splitter: each doc's token stream becomes chunks
    // of 32 tokens at stride 24 (8-token overlap), emitted as
    // (doc_id, chunk_id, n_tok, md5(chunk)) — the md5 pins every
    // chunk's exact content without shipping chunk bodies through the
    // output. Chunk count is exact integer math (1 + ⌈max(0,len−32)/24⌉
    // via (x+23) div 24) so both engines enumerate identical chunks;
    // the tail chunk is the natural short slice. Scale shape: pure
    // per-row explode — no shuffle at all until a consumer aggregates;
    // the doc body is split once into a projected array column.
    "rag_chunk" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      // null-text boundary made EXPLICIT: posexplode drops the NULL
      // chunk array anyway, but the oracle must gate the same way or
      // it emits a phantom (doc, chunk 0, NULL md5) row for the doc
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          posexplode(expr("chunk_fps(w, 32, 24)")).as(Seq("chunk_id", "c")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("c.n_tok").as("n_tok"), col("c.fp").as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // PASSAGE-level dedup (the granularity below `exact_dedup`'s whole
    // document and above `decontaminate_ngram`'s shingle): the corpus
    // is cut into NON-overlapping 32-token chunks, each chunk is
    // fingerprinted (md5 of exact content), and a chunk is a DUP iff
    // an identical chunk exists at a smaller (doc_id, chunk_id) —
    // boilerplate headers/footers repeated across pages surface here
    // while the containing documents stay unique. Declared output is
    // the per-doc audit (chunks, dup chunks, dup token mass) a
    // curation run reports before stripping. Scale shape: per-row
    // explode → ONE shuffle on the fingerprint (first-occurrence
    // window per fp, the exact_dedup discipline) → per-doc hash agg;
    // nothing global, nothing quadratic.
    "chunk_dedup" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      val ch = docs(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          posexplode(expr("chunk_fps(w, 32, 32)")).as(Seq("ci", "c")))
        .select(col("doc_id"), col("ci").cast("long").as("ci"),
          col("c.n_tok").as("n_tok"), col("c.fp").as("fp"))
      val firstSeen = Window.partitionBy("fp").orderBy("doc_id", "ci")
      ch.withColumn("rn", row_number().over(firstSeen))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("rn") > 1, col("n_tok")).otherwise(0L)).as("dup_tokens"))
        .orderBy("doc_id")
    }),

    // BOILERPLATE mining: the 20 most document-frequent 8-token
    // shingles — the literal strings (headers, footers, cookie
    // banners, license blurbs) a curator strips corpus-wide before
    // training. Explodes the per-doc shingle arrays of the feature
    // checkpoint `decontaminate_ngram` reads too; each doc's shingles
    // are distinct, so a shingle's row count is its document
    // frequency. Scale shape: hash agg on the shingle key →
    // TakeOrdered top-k (per-partition partials, never a global
    // sort); ranking key (df desc, ng asc) is deterministic.
    "boilerplate_ngrams" -> ((s, d) =>
      ngramSetCached(s, d, 8, Nil)
        .groupBy("ng").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("ng")).limit(20)),

    // Candidate-quality HISTOGRAM — the measurement that picks the
    // dedup threshold: exact token-set Jaccard over a DETERMINISTIC
    // 2% sample of the memoized MinHash candidate pairs (the
    // dedup_edit_distance discipline: (d1·31+d2) mod 50, pure integer
    // arithmetic — the PAIR LIST is what explodes at scale, so the
    // exact-verification cost must ride a fixed sample rate, never
    // the full surface; unsampled this query was 10.7 s of the sf0.1
    // bench, ~13× its sampled cost). Bins by EXACT integer arithmetic
    // (bin = (10·|∩|) div |∪|, J=1 clamped to bin 9 — no float ever
    // enters the hashed output). Read next to `minhash_recall`:
    // recall tells how much truth the banding finds, this tells what
    // the found candidates are WORTH (a heavy low-J head means the
    // banding wastes verification work). Scale shape: cost ∝ sampled
    // candidates, one codegen'd array_intersect per pair, then a
    // 10-row hash agg.
    "dedup_jaccard_histogram" -> ((s, d) =>
      sampledPairIU(s, d)
        .select(least(lit(9L), expr("(10 * i) div u")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bin")),

    // Threshold SWEEP over the same sampled exact-Jaccard pair
    // surface: at each candidate dedup threshold J ≥ t/10
    // (t = 5..9), how many sampled candidate pairs pass and how many
    // distinct docs a larger-id-loses greedy drop would remove — the
    // table a curator reads to PICK the dedup threshold (the
    // histogram shows the distribution; this shows the decision's
    // cost at each cut). All compares are exact integer
    // cross-multiplications (10·i ≥ t·u — §7.6, no float ratio).
    // Scale shape: the sampled pair surface × 5 threshold rows, one
    // hash agg; inputs all memoized.
    "dedup_threshold_sweep" -> ((s, d) =>
      sampledPairIU(s, d)
        .select(col("d2"), col("i"), col("u"),
          explode(expr("array(5L, 6L, 7L, 8L, 9L)")).as("j_tenths"))
        .groupBy("j_tenths")
        .agg(sum(when(col("i") * 10 >= col("j_tenths") * col("u"), 1L)
            .otherwise(0L)).as("n_pairs"),
          count_distinct(when(col("i") * 10 >= col("j_tenths") * col("u"),
            col("d2"))).as("n_losers"))
        .orderBy("j_tenths")),

    // MinHash estimator CALIBRATION: cross-tab of the 8-component
    // signature agreement count (the estimator: E[matches/8] = J)
    // against the exact-Jaccard decile bin, over the sampled
    // candidate-pair surface — the measured answer to "how good is an
    // 8-hash estimate", read next to `minhash_recall` (which grades
    // the BANDING, not the estimator). Every cell is an exact integer
    // count; no float ratio is ever materialized (§7.6). Scale shape:
    // sampled pairs equi-join the memoized signature table twice
    // (signatures are 8 longs/doc — broadcastable at any corpus size
    // where the sample is), one hash agg to ≤ 90 cells.
    "minhash_calibration" -> ((s, d) => {
      val sig = minhashSignatures(s, d)
      val s1 = sig.select(col("doc_id").as("d1") +:
        (0 until 8).map(i => col(s"m$i").as(s"x$i")): _*)
      val s2 = sig.select(col("doc_id").as("d2") +:
        (0 until 8).map(i => col(s"m$i").as(s"y$i")): _*)
      val matches = (0 until 8).map(i =>
        when(col(s"x$i") === col(s"y$i"), 1L).otherwise(0L)).reduce(_ + _)
      sampledPairIU(s, d)
        .join(s1, "d1").join(s2, "d2")
        .select(matches.as("matches"),
          least(lit(9L), expr("(10 * i) div u")).as("jbin"))
        .groupBy("matches", "jbin").agg(count(lit(1)).as("n_pairs"))
        .orderBy("matches", "jbin")
    }),

    // Population Stability Index between the two ingest cohorts
    // (doc_id parity models yesterday's slice vs today's): doc length
    // distribution over 16 fixed-width token-count buckets,
    // PSI = Σ (p₁−p₂)·ln(p₁/p₂) over buckets populated on BOTH sides
    // (the standard drift gate: <0.1 stable, >0.25 investigate).
    // Complements `value_drift_regression` (trend over time) and
    // `kl_source_divergence` (vocabulary): PSI is the bucketed
    // distribution-shift scalar a pipeline alarms on. Scale shape:
    // one hash agg to 16 bucket rows, totals broadcast — the float
    // log appears only in the final 16-term sum under ROUND(·,6).
    "psi_drift" -> ((s, d) => {
      val dt = docs(s, d).select(
        (col("doc_id") % 2).as("cohort"),
        expr("least(15, size(split(text, ' ')) div 16)").cast("long").as("bucket"))
      val cb = dt.groupBy("bucket").agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("c2"))
      val tot = cb.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      val both = col("c1") > 0 && col("c2") > 0
      cb.crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(both, 1L).otherwise(0L)).as("n_buckets_used"),
          round(sum(when(both,
            (col("c1") / col("n1") - col("c2") / col("n2"))
              * log((col("c1") / col("n1")) / (col("c2") / col("n2"))))
            .otherwise(0.0)), 6).as("psi"))
    }),

    // Zipf fit over the head of the frequency table: ln(freq) on
    // ln(rank) slope across the top 100 tokens (row_number rank,
    // count desc / token asc — deterministic under count ties) — the
    // corpus-health one-liner (natural language ≈ −1; template spam
    // flattens, a shattered tokenizer steepens). Scale shape: the head
    // is a TakeOrdered top-k (per-partition partials, no global sort);
    // the window and regression then run on 100 rows.
    "zipf_slope" -> ((s, d) => {
      val top = tokens(docs(s, d)).groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("token")).limit(100)
      top.withColumn("rank",
          row_number().over(Window.orderBy(desc("c"), col("token"))))
        .agg(count(lit(1)).as("n_head"),
          round(expr("regr_slope(ln(c), ln(rank))"), 6).as("slope"))
    }),

    // Incremental ingest dedup: the 10% "incoming batch" (md5-fold of
    // doc_id mod 10 = 7) checked against the EXISTING corpus — band
    // signatures of the batch equi-join the old corpus's bands, so
    // the cost is ∝ batch size, never corpus² (the production shape:
    // a daily crawl lands against a 100 TB corpus without re-pairing
    // the corpus with itself). Output: each colliding incoming doc,
    // its lowest-id existing collision, and the distinct collision
    // count. Skew boundary: the per-NEW-doc cost is ∝ its bucket's
    // OLD population because `n_matches` is declared EXACT — an
    // adversarial boilerplate bucket makes that count itself huge; a
    // deployment that only needs the dup VERDICT caps the old side
    // per bucket exactly like minhashPairs' successor window (min/any
    // are cap-invariant once a match is within the window; the exact
    // count is not, which is why the declared face stays uncapped).
    "incremental_dedup" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      val w = foldWidth(s)
      // the 8-hash signature table IS the shared memoized one (same
      // mh formula, same per-doc agg) — rebuilding it here re-paid the
      // token-set shuffle per bench run (~1 s of the 2.5 s floor)
      val sig = minhashSignatures(s, d)
      def chain(idxs: Range) =
        idxs.map(i => col(s"m$i")).reduceLeft((a, b) => a * 31 + b)
      val bands = (0 until 2).map { b =>
          sig.select(col("doc_id"), lit(b.toLong).as("band"),
            chain(b * 4 until (b + 1) * 4).as("bsig"))
        }.reduce(_ union _)
        .withColumn("inc",
          expr(s"fold_hex(md5(CAST(doc_id AS STRING)), $w) % 10") === 7)
      val newB = bands.filter(col("inc")).select(col("doc_id").as("nd"), col("band"), col("bsig"))
      val oldB = bands.filter(!col("inc")).select(col("doc_id").as("od"), col("band"), col("bsig"))
      newB.join(oldB, Seq("band", "bsig"))
        .groupBy(col("nd").as("doc_id"))
        .agg(min("od").as("first_match"), countDistinct("od").as("n_matches"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval scoring (Robertson k1=1.2, b=0.75, Lucene-style
    // idf ln(1 + (N−df+0.5)/(df+0.5))): top-20 documents for a fixed
    // query token set — the relevance-mining op a training pipeline
    // runs to surface on-topic documents. Scale shape: the token
    // stream is FILTERED to the query terms before any aggregation
    // (per-doc tf is a hash agg over query-term rows only), the
    // 3-row df/idf table broadcasts, doc lengths are one full-scan
    // hash agg, and the top-20 is TakeOrdered (per-partition partial
    // top-k → merge), never a global sort.
    "bm25_topk" -> ((s, d) => {
      val qTerms = Seq("spark", "join", "data")
      // doc length is size(split(·)) — map-side, NO token explode and
      // no per-doc count shuffle (the former full-token groupBy was
      // the heaviest of this query's four scans; a doc's tokens live
      // in its own row, the docTrigramIdArrays discipline)
      // dl and tf each feed two consumers; both are tiny derived
      // tables whose recompute re-reads the text column — checkpoint
      // them so the two corpus scans run once each
      val dl = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
        .localCheckpoint(true)
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      val tf = tokens(docs(s, d)).select("doc_id", "token")
        .filter(col("token").isin(qTerms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // tf rows ARE the distinct (doc, token) pairs of the query-term
      // stream, so document frequency derives from tf — the former
      // qtok.distinct() re-scanned and re-exploded the corpus for a
      // table tf already contains
      val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfq), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("term_score",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(round(sum("term_score"), 6).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
    }),

    "pii_redact" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("red"),
          (length(col("c_name"))
            - length(regexp_replace(col("c_name"), "[0-9]", ""))).as("digits"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("digits").as("digits_removed"),
          countDistinct("red").as("distinct_redacted"))
        .orderBy("c_nationkey")),

    // Bigram LM surprisal per document: p(t2|t1) = c(t1,t2)/c(t1,·)
    // over corpus bigram counts (no smoothing case exists — every
    // evaluated bigram is corpus-observed by construction), and
    // nll = −Σ ln p / n_bigrams. The CCNet-style perplexity filter
    // one order up from `unigram_logppl`: template/repetitive docs
    // score near 0, token-soup docs score high, and the two scores
    // together separate "rare words" from "rare word ORDER". Scale
    // shape: bigrams are generated MAP-SIDE by zipping adjacent
    // slices of the split array (no positional window, no self-join
    // on pos), the LM is two hash aggs joined once on t1, and the
    // scoring pass is a single (t1,t2) equi-join + per-doc hash agg —
    // AQE broadcasts small LMs, shuffle-joins big ones.
    "bigram_logppl" -> ((s, d) => {
      // three consumers read the bigram stream (c2 counts, c1 context
      // counts, the final scoring join) — eagerly checkpoint it so the
      // documents scan + word_bigrams kernel run ONCE per execution
      // (the dsir/ccnet double-compute lesson; the plan audit showed
      // 3 parquet scans before this). The kernel pin moved to
      // bigramStreamPlan (ScaleShapeSpec), since the declared plan now
      // reads the checkpoint.
      val bg = bigramStreamPlan(s, d).localCheckpoint(true)
      val cnt = bg.groupBy("t1", "t2").agg(count(lit(1)).as("c2"))
      val ctx = bg.groupBy("t1").agg(count(lit(1)).as("c1"))
      val lm = cnt.join(ctx, "t1")
      bg.join(lm, Seq("t1", "t2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(-(sum(log(col("c2") / col("c1"))) / count(lit(1))), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // Per-document character-distribution Shannon entropy (nats),
    // H = ln n − (Σ c·ln c)/n — the gibberish/boilerplate screen
    // (natural text sits near ~3 nats over chars+space; repeated
    // filler collapses toward 0). The WHOLE statistic is per-document
    // (a doc's characters live in its own row), so the codegen'd
    // `char_entropy_stats` kernel computes (n_chars, Σ c·ln c) in one
    // generated pass — the former char_freq explode → per-doc hash agg
    // paid a fan-out exchange plus the doc_id agg exchange for rows
    // this kernel never materializes. Exact integer counts either way;
    // only the ln() terms' float ADD ORDER differs (first-occurrence
    // in the kernel vs partial-agg order before), the same
    // engine-vs-oracle tolerance the ROUND(·,6) already carries.
    // Empty text returns a null struct and therefore NO row, matching
    // the oracle's generate_series(1, 0) emitting nothing.
    "char_entropy" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      docs(s, d).select(col("doc_id"), expr("char_entropy_stats(text)").as("st"))
        .filter(col("st").isNotNull)
        .select(col("doc_id"), col("st.n_chars").as("n_chars"),
          round(log(col("st.n_chars")) - col("st.clc") / col("st.n_chars"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // Which sources near-duplicate EACH OTHER: the (source, source)
    // matrix of MinHash candidate pairs — the provenance audit that
    // tells a pipeline which feeds are mirrors/scrapes of which.
    // Reads the memoized pair surface (no extra MinHash work) and
    // joins the two tiny doc→source maps; pair normalization via
    // least/greatest makes the matrix upper-triangular + diagonal.
    "dedup_source_matrix" -> ((s, d) => {
      // the doc→source map is docs-sized (tiny next to the pair
      // list): BROADCAST it twice so the multi-million-row memoized
      // pair surface never shuffles on d1/d2
      val src = docs(s, d).select(col("doc_id"), col("source"))
      minhashPairs(s, d)
        .join(broadcast(src.select(col("doc_id").as("d1"), col("source").as("sa"))), "d1")
        .join(broadcast(src.select(col("doc_id").as("d2"), col("source").as("sb"))), "d2")
        .select(least(col("sa"), col("sb")).as("s1"),
          greatest(col("sa"), col("sb")).as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
        .orderBy("s1", "s2")
    }),

    // Cross-LANGUAGE near-dup matrix — the translation-leakage /
    // cross-lingual contamination audit (a multilingual training set
    // must know how much of lang A is a light rewrite of lang B:
    // off-diagonal mass here is text that an English-only dedup pass
    // would have missed). Same provenance-matrix plan as
    // `dedup_source_matrix` with the lang dim: reads the memoized
    // pair surface (no extra MinHash work) and broadcasts the
    // docs-sized lang map on both sides, so the multi-million-row
    // pair list never shuffles on doc ids.
    "dedup_lang_matrix" -> ((s, d) => {
      val lm = docs(s, d).select(col("doc_id"), col("lang"))
      minhashPairs(s, d)
        .join(broadcast(lm.select(col("doc_id").as("d1"), col("lang").as("la"))), "d1")
        .join(broadcast(lm.select(col("doc_id").as("d2"), col("lang").as("lb"))), "d2")
        .select(least(col("la"), col("lb")).as("l1"),
          greatest(col("la"), col("lb")).as("l2"))
        .groupBy("l1", "l2").agg(count(lit(1)).as("n_pairs"))
        .orderBy("l1", "l2")
    }),

    // Edit-distance audit of the near-dup candidate surface: exact
    // Levenshtein + normalized similarity for a DETERMINISTIC 2%
    // sample of the memoized MinHash pairs ((d1·31+d2) mod 50 — pure
    // integer arithmetic, any cluster size and both engines pick the
    // same pairs). The second-stage verifier a dedup pipeline spot-
    // checks when token-set Jaccard is too coarse (reordered tokens,
    // in-place edits). The sample bound matters: Levenshtein is
    // O(|t1|·|t2|) per pair, and the full band-join pair list is
    // millions of rows at sf0.1 — an unsampled scan would be the
    // round-4 minhash_recall mistake in new clothes. Texts arrive by
    // doc_id equi-join; the distance is one codegen'd expression.
    "dedup_edit_distance" -> ((s, d) => {
      val txt = docs(s, d).select(col("doc_id"), col("text"))
      minhashPairs(s, d)
        .filter((col("d1") * 31 + col("d2")) % 50 === 0)
        .join(txt.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(txt.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        // DECLARED DOMAIN: single-byte texts only (octet_length ==
        // char length on both sides). Spark's levenshtein counts CODE
        // POINTS while DuckDB's counts BYTES — on a zh pair differing
        // in one CJK char they disagree 1 vs 3, an engine-primitive
        // divergence with no offline resolution. On the single-byte
        // domain the two are identical; multibyte near-dups are
        // measured by the Jaccard family instead.
        .filter(octet_length(col("t1")) === length(col("t1"))
          && octet_length(col("t2")) === length(col("t2")))
        .select(col("d1"), col("d2"),
          levenshtein(col("t1"), col("t2")).as("lev"),
          greatest(length(col("t1")), length(col("t2"))).as("mx"))
        .select(col("d1"), col("d2"), col("lev"),
          round(when(col("mx") > 0,
            lit(1.0) - col("lev") / col("mx").cast("double")), 6).as("sim"))
        .orderBy("d1", "d2")
    }),

    // The first BPE merge iteration: adjacent CHARACTER-pair counts
    // within tokens (occurrence-weighted, never across token
    // boundaries — the actual tokenizer-training step), top-20 by
    // count with a total (c1, c2) tie-break. Scale shape: pairs are
    // generated MAP-SIDE by an index transform over each token (no
    // self-join on position), partial aggregation collapses the
    // ≤alphabet² pair space before the one tiny shuffle, and the
    // top-20 is TakeOrdered — per-partition partial top-k, never a
    // global sort.
    "bpe_merge_candidates" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      // the codegen'd `char_pair_freq` kernel histograms each token's
      // adjacent char pairs in one pass (the former per-position
      // substring-struct transform interpreted its lambda per char),
      // and the explode shrinks from per-CHAR rows to per-distinct-
      // pair rows; sum(c) over the histograms == count over the
      // exploded pairs (exact integers, NgramFoldSpec-pinned)
      tokens(docsF(s, d)).select(col("token"))
        .select(explode(expr("char_pair_freq(token)")).as("pr"))
        .select(col("pr.c1").as("c1"), col("pr.c2").as("c2"), col("pr.c").as("c0"))
        .groupBy("c1", "c2").agg(sum("c0").as("cnt"))
        .orderBy(desc("cnt"), col("c1"), col("c2")).limit(20)
    }),

    // Tokenizer-budget curve: share of token OCCURRENCES covered by
    // the top-10 / top-100 / top-1000 corpus vocabulary — the curve a
    // team reads before fixing a vocab size (vocab_coverage gives one
    // point per doc; this gives the corpus tradeoff). Scale shape:
    // one token hash agg, a TakeOrdered top-1000, and the ranking
    // window runs over THAT 1000-row bounded table (never the
    // vocab-sized one); coverage sums come from the ranked table
    // itself — the occurrence stream is never rejoined.
    "vocab_coverage_curve" -> ((s, d) => {
      val cnt = tokens(docs(s, d)).select("token")
        .groupBy("token").agg(count(lit(1)).as("c"))
      val top = cnt.orderBy(desc("c"), col("token")).limit(1000)
      val w = Window.orderBy(desc("c"), col("token"))
      val ranked = top.withColumn("rk", row_number().over(w))
      val tot = cnt.agg(sum("c").as("n"))
      ranked.crossJoin(broadcast(tot))
        .agg(max("n").as("n"),
          sum(when(col("rk") <= 10, col("c"))).as("c10"),
          sum(when(col("rk") <= 100, col("c"))).as("c100"),
          sum(when(col("rk") <= 1000, col("c"))).as("c1000"))
        .select(expr("stack(3, 10, c10, 100, c100, 1000, c1000) AS (k, covered)"),
          col("n"))
        .select(col("k"), col("covered"),
          round(col("covered") / col("n"), 6).as("share"))
        .orderBy("k")
    }),

    // Vocabulary-overlap matrix: token-set Jaccard between every
    // source pair — the lexical twin of `dedup_source_matrix`
    // (document-level) and `kl_source_divergence` (distributional):
    // together the three answer "which feeds share WORDS, which share
    // DOCUMENTS, which share PROPORTIONS". Scale shape: the per-token
    // fan-out of the vocab self-join is bounded by the SOURCE count
    // (≤ sources² rows per token, not corpus²), the per-source vocab
    // sizes broadcast, and the intersection is one hash agg.
    "source_vocab_jaccard" -> ((s, d) => {
      val sv = tokens(docs(s, d)).select("source", "token").distinct()
      val sz = sv.groupBy("source").agg(count(lit(1)).as("n"))
      sv.as("a").join(sv.as("b"),
          col("a.token") === col("b.token") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("i"))
        .join(broadcast(sz.select(col("source").as("s1"), col("n").as("n1"))), "s1")
        .join(broadcast(sz.select(col("source").as("s2"), col("n").as("n2"))), "s2")
        .select(col("s1"), col("s2"), col("i"),
          round(col("i") / (col("n1") + col("n2") - col("i")), 6).as("jaccard"))
        .orderBy("s1", "s2")
    }),

    // Per-source KL divergence from the corpus token distribution,
    // KL(P_src ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)) — the
    // domain-shift audit a mixture pipeline publishes per source
    // (0 = indistinguishable from the mix; large = skewed
    // vocabulary). Every source token is corpus-supported, so no
    // zero/smoothing branch exists. Scale shape: two hash aggs
    // (source·token, corpus token) + ONE token equi-join + a
    // per-source agg; the ~20-row per-source totals BROADCAST, and
    // nothing windows or sorts globally.
    "kl_source_divergence" -> ((s, d) => {
      // same three-consumer token stream as unigram_logppl — one
      // eager checkpoint, one documents explode per execution
      val tok = tokens(docs(s, d)).select("source", "token")
        .localCheckpoint(true)
      val st = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      val srcTot = st.groupBy("source").agg(sum("cs").as("ns"))
      val ct = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n"))
      st.join(ct, "token").join(broadcast(srcTot), "source")
        .crossJoin(broadcast(tot))
        .groupBy("source")
        .agg(max("ns").as("n_tokens"),
          round(sum((col("cs") / col("ns"))
            * log((col("cs") / col("ns")) / (col("c") / col("n")))), 6).as("kl"))
        .orderBy("source")
    }),

    // EXACT-substring duplication audit at the Lee et al. 2022
    // operating point (public method: "Deduplicating Training Data
    // Makes Language Models Better" — any 50-token span shared
    // verbatim between two documents is training-set duplication):
    // every STRIDE-1 50-token window is fingerprinted with full md5
    // (a 16-byte digest — collision-free in practice and reproduced
    // bit-for-bit by the oracle, unlike a folded 32-bit id at
    // birthday-bound window counts), windows dedup per doc MAP-SIDE
    // via the codegen'd `ngram_md5_set` kernel (expr/NgramFold.scala:
    // the former transform(md5(array_join(slice))) HOF interpreted a
    // slice-copy + join-string per window position — O(50) interpreted
    // allocations per token; the kernel digests each window's bytes
    // incrementally inside whole-stage codegen, and NgramFoldSpec pins
    // the output bit-for-bit at n=50). A doc's windows live in its own
    // row, so the only shuffle is the (doc_id, digest) pairs on the
    // digest key — the exact_dedup discipline: spans never shuffle,
    // digests do. `chunk_dedup` is the non-overlapping approximation
    // of this measure; stride-1 windows make it exact (a shared span
    // misaligned with chunk boundaries cannot hide). One fp-partitioned
    // window + one aggregate summarize duplication mass; the ×50 token
    // amplification is the method's declared map-side cost (the
    // suffix-array form trades it for a global sort — the wrong trade
    // under a shuffle-bounded engine).
    "exact_substring_dedup" -> ((s, d) => {
      graft.engine.expr.GraftFunctions.register(s)
      val wins = docsF(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 50)
        .select(col("doc_id"), explode(expr("ngram_md5_set(w, 50)")).as("fp"))
      wins.withColumn("n", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("n") >= 2)
        .agg(count_distinct(col("fp")).as("n_dup_spans"),
          count(lit(1)).as("n_doc_span_pairs"),
          count_distinct(col("doc_id")).as("n_docs_affected"))
    }),

    // Tokenizer FERTILITY per (lang, source): subword tokens per
    // whitespace word under the BPE-ish regex (`token_count_regex`'s
    // proven-parity pattern) plus chars per subword token — the
    // "how expensive is this corpus slice to tokenize" table a
    // training-data pipeline publishes per stratum (fertility ≫ 1
    // flags scripts/domains the tokenizer fragments). Exact-integer
    // sums per stratum; the two ratios are single IEEE divisions of
    // identical integers (§7.6 — drift-free). Scale shape: map-side
    // regex counting → one hash agg on (lang, source); nothing
    // windows, joins, or sorts globally.
    "tokenizer_fertility" -> ((s, d) =>
      docs(s, d).select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|\\S"), lit(0)))
            .cast("long").as("bpe"),
          length(col("text")).cast("long").as("chars"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("n_ws_tokens"),
          sum("bpe").as("n_bpe_tokens"),
          // zero-token strata (whitespace-only / symbol-only docs):
          // NULL ratio, never a DIVIDE_BY_ZERO abort (Spark 4 ANSI
          // throws on zero divisors of ANY numeric type) — the oracle
          // carries the same CASE gate
          round(when(sum("ws") > 0, sum("bpe") / sum("ws").cast("double")), 6)
            .as("fertility"),
          round(when(sum("bpe") > 0, sum("chars") / sum("bpe").cast("double")), 6)
            .as("chars_per_token"))
        .orderBy("lang", "source")),

    // PACKING-BUDGET sweep — the knob table for `sequence_pack`
    // (the dedup_threshold_sweep discipline applied to the packing
    // budget): at each sequence budget ∈ {128, 256, 512}, the pack
    // count, overflowing packs (a pack overflows when its LAST doc
    // crosses the budget boundary — greedy cumsum packing never
    // splits documents, so ANY boundary-spanning doc pushes its pack
    // past budget, not just docs longer than the budget), total
    // capacity and the exact-integer fill rate. The per-shard token
    // cumsum is budget-INDEPENDENT, so the sweep pays the windowed
    // cumsum once (one shuffle on the 16-way shard key, same plan as
    // sequence_pack) and each operating point is integer-divides +
    // one tiny hash agg over it. All outputs exact integers
    // (fill_ppm = tokens·1e6 div capacity — §7.6 rule b).
    "pack_efficiency_sweep" -> ((s, d) => {
      val t = withFoldHash(docs(s, d), "text", "hb")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
          pmod(col("hb"), lit(16)).as("shard"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
      // one cumsum feeds all three operating points: checkpoint it so
      // the three union branches read the materialized 5k-row table
      // instead of re-running the window per branch
      val cum = t.withColumn("cum", sum("n_tok").over(w)).localCheckpoint(true)
      Seq(128, 256, 512).map { b =>
        cum.withColumn("pack_id",
            floor((col("cum") - col("n_tok")) / lit(b.toDouble)).cast("long"))
          .groupBy("shard", "pack_id").agg(sum("n_tok").as("tokens"))
          .agg(count(lit(1)).as("n_packs"),
            sum(when(col("tokens") > b, 1L).otherwise(0L)).as("n_overflow"),
            sum("tokens").as("tokens_total"))
          .select(lit(b.toLong).as("budget"), col("n_packs"), col("n_overflow"),
            col("tokens_total"), (col("n_packs") * b).as("capacity"),
            expr(s"tokens_total * 1000000 div (n_packs * $b)").as("fill_ppm"))
      }.reduce(_ union _).orderBy("budget")
    }),

    // The EVAL-side of benchmark decontamination (`decontaminate_ngram`
    // reports contaminated TRAINING docs; this reports which EVAL docs
    // are compromised and how badly): per src0 document, its 8-shingle
    // count, how many of those shingles appear anywhere in the
    // training side, and the leaked share — the "is this benchmark
    // still valid" audit a curator publishes next to the train-side
    // scrub list. Like `decontaminate_ngram`, ONLY leaked docs
    // surface (n_hit ≥ 1: a doc with no hit keeps no row past the
    // semi-join): a fully clean benchmark reports an empty table by
    // declared design — absence means clean, not unanalyzed. Reads the
    // same per-doc shingle arrays of the feature checkpoint; the
    // sides meet in one left-semi equi-join on the shingle key — semi-join
    // semantics dedupe the probe side for free, so the big train set
    // is NOT distinct-collapsed first (that full extra shuffle of the
    // corpus-sized set was 2.8 s → 1.0 s of the sf0.1 bench); never
    // doc×doc.
    "eval_contamination_report" -> ((s, d) =>
      shingleHits(s, d, col("source") === "src0", ngramSetCached(s, d, 8, Seq("source"))
        .filter(col("source") =!= "src0").select(col("ng").as("sh")), "leakage")),

    // DSIR-style importance weighting (Xie et al. 2023, hashed-ngram
    // variant reduced to unigram features): every candidate training
    // doc (source ≠ src0) scored by the length-normalized
    // log-likelihood RATIO of the target LM (src0 = the eval/target
    // proxy) vs the raw-corpus LM, add-one smoothed over the shared
    // vocabulary — the data-SELECTION op that upweights docs looking
    // like the target domain; declared output is the top-50 pick
    // (desc weight, doc_id tiebreak), i.e. the resampling head.
    // Scale shape: two token hash aggs build the LMs, the corpus
    // scalars (vocab size, per-side token totals) come from ONE
    // in-plan aggregation crossJoin-broadcast back (the bm25_topk
    // stats pattern — no driver-side count jobs at plan-build time),
    // the per-token log-ratio dim joins the token stream UNHINTED —
    // AQE broadcasts the measured-small dim at bench SF and falls
    // back to a token-keyed shuffle at 100 TB vocabularies (a hard
    // broadcast() hint would forbid exactly that fallback — round-7
    // advice) — one per-doc agg, and the top-50 is TakeOrdered,
    // never a global sort.
    // Exact-integer counts everywhere; floats enter only at the two
    // ln() calls and the final ROUND(·,6) mean (the unigram_logppl
    // discipline).
    "dsir_importance_weights" -> ((s, d) => {
      // four consumers read the exploded token stream (global stats,
      // eval counts, train counts, the final per-doc join) —
      // checkpoint it so the documents explode runs once
      val tok = tokens(docs(s, d)).select("doc_id", "source", "token")
        .localCheckpoint(true)
      val stats = tok.agg(
        count_distinct(col("token")).as("vocab"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("nt"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("ns"))
      val ev = tok.filter(col("source") === "src0")
      val tr = tok.filter(col("source") =!= "src0")
      val cTgt = ev.groupBy("token").agg(count(lit(1)).as("ct"))
      val ratio = tr.groupBy("token").agg(count(lit(1)).as("cs"))
        .join(cTgt, Seq("token"), "left")
        .crossJoin(broadcast(stats))
        .select(col("token"),
          (log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
              / (col("nt") + col("vocab")).cast("double"))
            - log((col("cs") + lit(1L)).cast("double")
              / (col("ns") + col("vocab")).cast("double"))).as("lr"))
      // no broadcast() hint on the vocab-sized log-ratio dim: a hard
      // hint would OVERRIDE Spark's size threshold and pin the
      // broadcast at every scale — the documented 100 TB fallback (a
      // token-keyed shuffle when the vocabulary outgrows executor
      // memory) must stay reachable, so the strategy choice is left
      // to AQE, which measures the dim at runtime and broadcasts it
      // at bench SF (ScaleShapeSpec pins that adaptive choice)
      tr.join(ratio, "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), round(sum("lr") / count(lit(1)), 6).as("w"))
        .orderBy(desc("w"), col("doc_id")).limit(50)
    }),

    // CCNet-style perplexity BUCKETING (Wenzek et al. 2020): per lang,
    // docs split into head/middle/tail thirds by unigram-LM NLL (the
    // published curation move: train on head+middle, drop or re-weight
    // tail). Buckets come from per-lang tertile BOUNDARIES broadcast
    // back over the doc stream — NOT a per-lang NTILE sort: at 100 TB
    // a rank-based split would globally sort every lang partition,
    // while the boundary form is one percentile agg (tiny output) +
    // one map-side comparison pass. Bucket decisions are ulp-robust:
    // both engines interpolate the same boundary from the same
    // ROUND(·,6) NLLs, and a boundary strictly between two adjacent
    // doc values cannot flip any doc's bucket under last-bit drift
    // (g=0 collapses the interpolation to an exact doc value in both).
    "ccnet_ppl_buckets" -> ((s, d) => {
      val tok = tokens(docs(s, d)).select("doc_id", "lang", "token")
      val cnt = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n"))
      // the per-doc NLL table feeds BOTH the tertile-cut aggregation
      // and the bucketing join — checkpoint it so the token-stream
      // explode+join+agg pipeline runs once per execution, not twice
      // (Spark has no subtree reuse across DataFrame branches)
      val nll = tok.join(cnt, "token").crossJoin(broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"),
          round(-(sum(log(col("c") / col("n"))) / count(lit(1))), 6).as("nll"))
        .localCheckpoint(true)
      val cuts = nll.groupBy("lang").agg(
        expr("percentile(nll, CAST(1 AS DOUBLE)/3)").as("b1"),
        expr("percentile(nll, CAST(2 AS DOUBLE)/3)").as("b2"))
      nll.join(broadcast(cuts), "lang")
        .withColumn("bucket", when(col("nll") <= col("b1"), 1L)
          .when(col("nll") <= col("b2"), 2L).otherwise(3L))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
          round(min("nll"), 6).as("min_nll"), round(max("nll"), 6).as("max_nll"))
        .orderBy("lang", "bucket")
    }),
  )

  private val TOK =
    """tok AS (SELECT doc_id, lang, source, u.i AS pos, string_split(text, ' ')[u.i] AS token
      |  FROM documents, UNNEST(generate_series(1, len(string_split(text, ' ')))) AS u(i)),
      |vocab AS (SELECT token,
      |  CAST(SUM((strpos('0123456789abcdef', substr(md5(token), u.i, 1)) - 1)
      |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) AS tid
      |  FROM (SELECT DISTINCT token FROM tok), UNNEST(generate_series(1, 8)) AS u(i)
      |  GROUP BY token)""".stripMargin

  /** MinHash signature/band/pair CTEs (assumes $TOK precedes). The
    * `pairs` CTE mirrors the engine's hot-bucket cap ([[minhashPairs]],
    * default `graft.neardedup.bucketCap` = 4096): a pair qualifies iff
    * its rank distance in the bucket's sorted doc order is ≤ cap —
    * inert at fixture bucket sizes (max ~2.5k docs), but the contract
    * is stated identically in both engines. The cap literal is
    * interpolated from [[graft.engine.ConfEnv]] (env SPARK_GRAFT_CONF)
    * so the probe gate's hot-bucket profile can shrink engine cap and
    * oracle window TOGETHER; with the env unset this is the committed
    * 4096 byte-identically. (A cap set via spark.conf alone does NOT
    * reach this string — oracled runs must use the env.) */
  private[graft] val oracleBucketCap: String =
    graft.engine.ConfEnv.get("graft.neardedup.bucketCap", "4096")
  private val MINHASH =
    s"""dt AS (SELECT DISTINCT doc_id, tid FROM tok JOIN vocab USING (token)),
      |h AS (SELECT doc_id, u.seed AS seed,
      |  (tid * (u.seed * 2 + 3) + (u.seed * 7 + 1)) % 1000003 AS h
      |  FROM dt, UNNEST(generate_series(0, 7)) AS u(seed)),
      |sig AS (SELECT doc_id, seed, MIN(h) AS mh FROM h GROUP BY 1, 2),
      |bands AS (SELECT doc_id, seed // 4 AS band,
      |  ((MIN(CASE WHEN seed % 4 = 0 THEN mh END) * 31
      |    + MIN(CASE WHEN seed % 4 = 1 THEN mh END)) * 31
      |    + MIN(CASE WHEN seed % 4 = 2 THEN mh END)) * 31
      |    + MIN(CASE WHEN seed % 4 = 3 THEN mh END) AS bsig
      |  FROM sig GROUP BY doc_id, seed // 4),
      |rb AS (SELECT band, bsig, doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS rn
      |  FROM bands),
      |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM rb a JOIN rb b ON a.band = b.band AND a.bsig = b.bsig
      |    AND b.rn - a.rn BETWEEN 1 AND $oracleBucketCap)""".stripMargin

  val oracles: Map[String, String] = Map(
    "exact_dedup" ->
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS copies
        |FROM documents GROUP BY text ORDER BY keeper""".stripMargin,

    "minhash_near_dedup" ->
      s"""WITH $TOK,
         |$MINHASH
         |SELECT d1, d2 FROM pairs ORDER BY d1, d2""".stripMargin,

    "near_dedup_groups" ->
      s"""WITH RECURSIVE $TOK,
         |$MINHASH,
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT LEAST(a, MIN(b)) AS group_id, a AS member
         |FROM reach GROUP BY a ORDER BY group_id, member""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $TOK,
         |$MINHASH,
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |grp AS (SELECT LEAST(a, MIN(b)) AS gid, a AS member
         |  FROM reach GROUP BY a),
         |gs AS (SELECT gid, COUNT(*) AS gsz FROM grp GROUP BY gid)
         |SELECT gsz, COUNT(*) AS n_groups FROM gs
         |GROUP BY gsz ORDER BY gsz""".stripMargin,

    "dedup_token_mass" ->
      s"""WITH RECURSIVE $TOK,
         |$MINHASH,
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |grp AS (SELECT LEAST(a, MIN(b)) AS gid, a AS member
         |  FROM reach GROUP BY a),
         |losers AS (SELECT member AS doc_id FROM grp WHERE member <> gid),
         |dl AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lost_docs,
         |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN tok ELSE 0 END) AS BIGINT)
         |    AS n_lost_tokens,
         |  ROUND(CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN tok ELSE 0 END) AS BIGINT)
         |    * 1.0 / CAST(SUM(tok) AS BIGINT), 6) AS lost_token_share
         |FROM dl LEFT JOIN losers l USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,

    "cooccurrence_pmi" ->
      """WITH tokd AS (SELECT DISTINCT doc_id,
        |    UNNEST(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |df AS (SELECT token, COUNT(*) AS df FROM tokd GROUP BY 1),
        |co AS (SELECT a.token AS t1, b.token AS t2, COUNT(*) AS n_ab
        |  FROM tokd a JOIN tokd b
        |    ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT t1, t2, n_ab,
        |  ROUND(ln(n_ab * n.n * 1.0 / (d1.df * d2.df)), 6) AS pmi
        |FROM co JOIN df d1 ON d1.token = t1 JOIN df d2 ON d2.token = t2
        |  CROSS JOIN n
        |ORDER BY t1, t2""".stripMargin,

    "winnow_fingerprint" ->
      """WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tri AS (SELECT doc_id, u.i - 1 AS pos,
        |    w[u.i] || ' ' || w[u.i + 1] || ' ' || w[u.i + 2] AS ng
        |  FROM wd, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        |  WHERE len(w) >= 3),
        |h AS (SELECT doc_id, pos,
        |  CAST(SUM((strpos('0123456789abcdef', substr(md5(ng), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 1000003 AS h
        |  FROM tri, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, pos, ng),
        |wm AS (SELECT doc_id, pos,
        |  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |  COUNT(*) OVER (PARTITION BY doc_id) AS ntri
        |  FROM h)
        |SELECT doc_id, COUNT(DISTINCT wmin) AS n_fp,
        |  MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
        |FROM wm WHERE pos <= ntri - 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_survivors" ->
      s"""WITH RECURSIVE $TOK,
         |$MINHASH,
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |grp AS (SELECT LEAST(a, MIN(b)) AS gid, a AS member
         |  FROM reach GROUP BY a)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT member FROM grp WHERE member <> gid)
         |ORDER BY doc_id""".stripMargin,

    "stratified_split" ->
      """WITH h AS (SELECT doc_id, lang,
        |  CAST(SUM((strpos('0123456789abcdef', substr(md5(text), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 10 AS b
        |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, lang, text)
        |SELECT lang,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "simhash_dedup" ->
      s"""WITH $TOK,
         |cnt AS (SELECT doc_id, md5(token) AS h, COUNT(*) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |sg AS (SELECT doc_id, u.j AS j,
         |  SUM(cnt * ((strpos('0123456789abcdef', substr(h, CAST(u.j + 1 AS INT), 1)) - 1) % 2 * 2 - 1)) AS sgn
         |  FROM cnt, UNNEST(generate_series(0, 15)) AS u(j) GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |  CAST(SUM(CASE WHEN sgn > 0 THEN POWER(2, j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM sg GROUP BY 1)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  bit_count(xor(a.simhash, b.simhash)) AS ham
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin,

    // trigram ids are the same 8-digit md5 fold the engine computes
    // (a collision merges identical trigram pairs in both engines —
    // the TOK parity argument); the join itself stays unpruned, so it
    // remains an independent check of the engine's prefix+size filters
    "ngram_jaccard_dedup" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |tri0 AS (SELECT DISTINCT doc_id, UNNEST(list_transform(
        |    generate_series(1, len(a) - 2),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS tri
        |  FROM arr),
        |tri AS (SELECT DISTINCT doc_id,
        |    CAST(SUM((strpos('0123456789abcdef', substr(md5(tri), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) AS tid
        |  FROM tri0, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, tri),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tri a JOIN tri b ON a.tid = b.tid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  ROUND(inter / (s1.sz + s2.sz - inter), 6) AS jac
        |FROM inter JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
        |WHERE inter / (s1.sz + s2.sz - inter) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "text_tokenize_stats" ->
      s"""WITH $TOK
         |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
         |  COUNT(DISTINCT token) AS n_distinct,
         |  ROUND(COUNT(*) / COUNT(DISTINCT doc_id), 6) AS avg_tokens_per_doc
         |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,

    "tf_idf_top_terms" ->
      s"""WITH $TOK,
         |tf AS (SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |dn AS (SELECT COUNT(*) AS dn FROM documents),
         |scored AS (SELECT source, token,
         |  ROUND(tf * ln(CAST(dn + 1 AS DOUBLE) / (df + 1)), 6) AS score
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN dn),
         |ranked AS (SELECT source, token, score,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, token) AS rn
         |  FROM scored)
         |SELECT source, rn, token, score FROM ranked WHERE rn <= 5
         |ORDER BY source, rn""".stripMargin,

    "lang_source_matrix" ->
      """SELECT lang, source, COUNT(*) AS n FROM documents
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "lang_source_pivot" -> {
      val cols = (0 until 20).map(i => s"COALESCE(src$i, 0) AS src$i").mkString(", ")
      val in = (0 until 20).map(i => s"'src$i'").mkString(", ")
      s"""SELECT lang, $cols FROM (
         |  PIVOT documents ON source IN ($in) USING COUNT(*) GROUP BY lang
         |) ORDER BY lang""".stripMargin
    },

    "lang_id" ->
      s"""WITH $TOK,
         |bytok AS (SELECT token, lang, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |tlang AS (SELECT token, lang AS tlang FROM (SELECT token, lang,
         |  ROW_NUMBER() OVER (PARTITION BY token ORDER BY c DESC, lang) AS rn
         |  FROM bytok) WHERE rn = 1),
         |votes AS (SELECT doc_id, tok.lang AS lang, tlang, COUNT(*) AS v
         |  FROM tok JOIN tlang USING (token) GROUP BY 1, 2, 3),
         |pick AS (SELECT doc_id, lang, tlang, ROW_NUMBER() OVER
         |  (PARTITION BY doc_id ORDER BY v DESC, tlang) AS rn FROM votes)
         |SELECT doc_id, tlang AS pred, lang,
         |  CASE WHEN tlang = lang THEN 1 ELSE 0 END AS hit
         |FROM pick WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      """WITH q AS (SELECT doc_id, length(text) AS nc,
        |  len(string_split(text, ' ')) AS n_tok,
        |  len(list_distinct(string_split(text, ' '))) AS n_dis
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  ROUND(n_dis / CAST(n_tok AS DOUBLE), 6) AS distinct_ratio,
        |  ROUND((nc - (n_tok - 1)) / CAST(n_tok AS DOUBLE), 6) AS avg_tok_len,
        |  ROUND((n_dis / CAST(n_tok AS DOUBLE))
        |    * LEAST(1.0, n_tok / 50.0), 6) AS score
        |FROM q ORDER BY doc_id""".stripMargin,

    "token_count_regex" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $TOK,
         |t AS (SELECT doc_id, (tid * ((pos * 131 + 7) % 1000003) % 1000003) AS term
         |  FROM tok JOIN vocab USING (token))
         |SELECT doc_id, CAST(SUM(term) % 1000003 AS BIGINT) AS fp
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sequence_pack" ->
      """WITH h AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |  CAST(SUM((strpos('0123456789abcdef', substr(md5(text), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 16 AS shard
        |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, text),
        |c AS (SELECT doc_id, n_tok, shard,
        |  SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |p AS (SELECT shard, CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS pack_id,
        |  n_tok FROM c)
        |SELECT shard, pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |  ROUND(SUM(n_tok) / 512.0, 6) AS fill
        |FROM p GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin,

    "decontaminate_ngram" ->
      """WITH arr AS (SELECT doc_id, source, string_split(text, ' ') AS a FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, UNNEST(list_transform(
        |    generate_series(1, len(a) - 7),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' ||
        |         a[i+4] || ' ' || a[i+5] || ' ' || a[i+6] || ' ' || a[i+7])) AS sh
        |  FROM arr),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
        |tr AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
        |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr GROUP BY 1),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM tr
        |  WHERE sh IN (SELECT sh FROM ev) GROUP BY 1)
        |SELECT doc_id, n_sh, n_hit, ROUND(n_hit / n_sh, 6) AS contamination
        |FROM tot JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_multimodal_bytes" ->
      """SELECT doc_id, octet_length(encode(text)) AS nbytes, length(text) AS nchars,
        |  md5(text) AS md5h, sha256(text) AS sha256h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "repetition_score" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  CAST(MAX(c) AS BIGINT) AS top_c,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ratio,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS distinct_ratio
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "repetition_filter_sweep" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |pd AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS tc FROM tc GROUP BY 1),
        |th AS (SELECT UNNEST([10, 20, 30, 40, 50]) AS t)
        |SELECT CAST(th.t AS BIGINT) AS t, COUNT(*) AS docs_total,
        |  CAST(SUM(CASE WHEN tc * 100 > th.t * n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_dropped,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN tc * 100 > th.t * n THEN n ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped,
        |  ROUND(SUM(CASE WHEN tc * 100 > th.t * n THEN n ELSE 0 END) * 1.0
        |    / SUM(n), 6) AS dropped_share
        |FROM pd CROSS JOIN th
        |GROUP BY th.t ORDER BY t""".stripMargin,

    "token_length_quantiles" ->
      """WITH tc AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(quantile_cont(n_tok, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(n_tok, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(n_tok, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(n_tok, 0.95), 6) AS p95
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,

    "quality_funnel" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS n_dis, MAX(c) AS top_c
        |  FROM tc GROUP BY doc_id),
        |f AS (SELECT
        |  (n_tok >= 20 AND n_tok <= 500) AS f1,
        |  (n_tok >= 20 AND n_tok <= 500
        |    AND CAST(top_c AS DOUBLE) / n_tok <= 0.2) AS f2,
        |  (n_tok >= 20 AND n_tok <= 500
        |    AND CAST(top_c AS DOUBLE) / n_tok <= 0.2
        |    AND CAST(n_dis AS DOUBLE) / n_tok >= 0.3) AS f3
        |  FROM st),
        |w AS (SELECT COUNT(*) AS s0_all,
        |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_length,
        |  CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2_repetition,
        |  CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_diversity
        |  FROM f)
        |SELECT 's0_all' AS stage, s0_all AS n_surviving FROM w
        |UNION ALL SELECT 's1_length', s1_length FROM w
        |UNION ALL SELECT 's2_repetition', s2_repetition FROM w
        |UNION ALL SELECT 's3_diversity', s3_diversity FROM w
        |ORDER BY stage""".stripMargin,

    "corpus_mix" ->
      """WITH t AS (SELECT COUNT(*) AS total FROM documents)
        |SELECT source, COUNT(*) AS n,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.total), 6) AS frac,
        |  ROUND(CAST(0.05 AS DOUBLE) * MAX(t.total) / COUNT(*), 6) AS weight
        |FROM documents CROSS JOIN t
        |GROUP BY source ORDER BY source""".stripMargin,

    "minhash_recall" ->
      s"""WITH $TOK,
         |$MINHASH,
         |tokd AS (SELECT DISTINCT doc_id, token FROM tok),
         |samp AS (SELECT doc_id FROM (
         |  SELECT doc_id, CAST(SUM((strpos('0123456789abcdef',
         |      substr(md5(CAST(doc_id AS VARCHAR)), u.i, 1)) - 1)
         |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) AS f
         |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i)
         |  GROUP BY doc_id) WHERE f % 20 = 0),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tokd GROUP BY 1),
         |it AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS d1,
         |    GREATEST(a.doc_id, b.doc_id) AS d2, a.token
         |  FROM tokd a JOIN tokd b USING (token)
         |  WHERE a.doc_id IN (SELECT doc_id FROM samp) AND a.doc_id <> b.doc_id),
         |inter AS (SELECT d1, d2, COUNT(*) AS i FROM it GROUP BY 1, 2),
         |truth AS (SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
         |  WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.9),
         |cand AS (SELECT d1, d2 FROM pairs
         |  WHERE d1 IN (SELECT doc_id FROM samp) OR d2 IN (SELECT doc_id FROM samp)),
         |tp AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
         |SELECT 'minhash_b2r4' AS algo,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM cand) AS n_cand,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  ROUND((SELECT COUNT(*) FROM tp) * 1.0
         |    / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall_at_09,
         |  ROUND((SELECT COUNT(*) FROM tp) * 1.0
         |    / NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision_at_09""".stripMargin,

    // the b=1×r=8 operating point: identical truth, candidates from a
    // SINGLE band chaining all 8 min-hashes base-31
    "minhash_recall_b1r8" ->
      s"""WITH $TOK,
         |$MINHASH,
         |bands1 AS (SELECT doc_id,
         |  ((((((MIN(CASE WHEN seed = 0 THEN mh END) * 31
         |    + MIN(CASE WHEN seed = 1 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 2 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 3 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 4 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 5 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 6 THEN mh END)) * 31
         |    + MIN(CASE WHEN seed = 7 THEN mh END) AS bsig
         |  FROM sig GROUP BY doc_id),
         |rb1 AS (SELECT bsig, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY bsig ORDER BY doc_id) AS rn
         |  FROM bands1),
         |pairs1 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM rb1 a JOIN rb1 b ON a.bsig = b.bsig
         |    AND b.rn - a.rn BETWEEN 1 AND $oracleBucketCap),
         |tokd AS (SELECT DISTINCT doc_id, token FROM tok),
         |samp AS (SELECT doc_id FROM (
         |  SELECT doc_id, CAST(SUM((strpos('0123456789abcdef',
         |      substr(md5(CAST(doc_id AS VARCHAR)), u.i, 1)) - 1)
         |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) AS f
         |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i)
         |  GROUP BY doc_id) WHERE f % 20 = 0),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tokd GROUP BY 1),
         |it AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS d1,
         |    GREATEST(a.doc_id, b.doc_id) AS d2, a.token
         |  FROM tokd a JOIN tokd b USING (token)
         |  WHERE a.doc_id IN (SELECT doc_id FROM samp) AND a.doc_id <> b.doc_id),
         |inter AS (SELECT d1, d2, COUNT(*) AS i FROM it GROUP BY 1, 2),
         |truth AS (SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
         |  WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.9),
         |cand AS (SELECT d1, d2 FROM pairs1
         |  WHERE d1 IN (SELECT doc_id FROM samp) OR d2 IN (SELECT doc_id FROM samp)),
         |tp AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
         |SELECT 'minhash_b1r8' AS algo,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM cand) AS n_cand,
         |  (SELECT COUNT(*) FROM tp) AS n_tp,
         |  ROUND((SELECT COUNT(*) FROM tp) * 1.0
         |    / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall_at_09,
         |  ROUND((SELECT COUNT(*) FROM tp) * 1.0
         |    / NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision_at_09""".stripMargin,

    "vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1)
        |  ORDER BY c DESC, token LIMIT 10)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  ROUND(CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS coverage
        |FROM tok LEFT JOIN vocab v USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "unigram_logppl" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  ROUND(-(SUM(ln(cnt.c * 1.0 / tot.n)) / COUNT(*)), 6) AS nll
        |FROM tok JOIN cnt USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "token_budget_sample" ->
      """WITH dt AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |bysrc AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok FROM dt GROUP BY 1),
        |med AS (SELECT CAST(2 * quantile_cont(src_tok, 0.5) AS BIGINT) AS med2 FROM bysrc),
        |rates AS (SELECT source, LEAST(1.0, med.med2 / 2.0 / src_tok) AS rate,
        |    LEAST(1000000, (med.med2 * 1000000) // (2 * src_tok)) AS rate_ppm
        |  FROM bysrc CROSS JOIN med),
        |f AS (SELECT doc_id, CAST(SUM((strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR)), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 1000000 AS fv
        |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i) GROUP BY doc_id)
        |SELECT dt.source, COUNT(*) AS docs_kept, CAST(SUM(dt.n_tok) AS BIGINT) AS tokens_kept,
        |  CAST(MAX(r.rate_ppm) AS BIGINT) AS rate_ppm
        |FROM dt JOIN rates r USING (source) JOIN f USING (doc_id)
        |WHERE f.fv < r.rate * 1e6
        |GROUP BY dt.source ORDER BY dt.source""".stripMargin,

    "domain_token_cap" ->
      """WITH dt AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |m AS (SELECT CAST(2 * quantile_cont(src_tok, 0.5) AS BIGINT) // 4 AS cap_tok
        |  FROM (SELECT CAST(SUM(n_tok) AS BIGINT) AS src_tok FROM dt GROUP BY source)),
        |c AS (SELECT doc_id, source, n_tok, SUM(n_tok) OVER (
        |    PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM dt)
        |SELECT source, COUNT(*) AS docs_kept,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
        |  CAST(MAX(m.cap_tok) AS BIGINT) AS cap_tok
        |FROM c CROSS JOIN m WHERE cum <= m.cap_tok
        |GROUP BY source ORDER BY source""".stripMargin,

    "ngram_novelty" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |tri0 AS (SELECT DISTINCT doc_id, UNNEST(list_transform(
        |    generate_series(1, len(a) - 2),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS tri
        |  FROM arr),
        |tri AS (SELECT DISTINCT doc_id,
        |    CAST(SUM((strpos('0123456789abcdef', substr(md5(tri), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) AS ng
        |  FROM tri0, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, tri),
        |f AS (SELECT ng, MIN(doc_id) AS first_doc FROM tri GROUP BY 1)
        |SELECT tri.doc_id, COUNT(*) AS n_ngrams,
        |  CAST(SUM(CASE WHEN f.first_doc = tri.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(SUM(CASE WHEN f.first_doc = tri.doc_id THEN 1 ELSE 0 END) * 1.0
        |    / COUNT(*), 6) AS novelty
        |FROM tri JOIN f USING (ng)
        |GROUP BY tri.doc_id ORDER BY tri.doc_id""".stripMargin,

    "rag_chunk" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents
        |  WHERE text IS NOT NULL),
        |ch AS (SELECT doc_id, u.j AS chunk_id,
        |    array_to_string(list_slice(a, u.j*24 + 1, u.j*24 + 32), ' ') AS chunk
        |  FROM arr, UNNEST(generate_series(0,
        |    (GREATEST(0, len(a) - 32) + 23) // 24)) AS u(j))
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok,
        |  md5(chunk) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "chunk_dedup" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |ch AS (SELECT doc_id, u.j AS ci,
        |    array_to_string(list_slice(a, u.j*32 + 1, u.j*32 + 32), ' ') AS chunk
        |  FROM arr, UNNEST(generate_series(0, (len(a) - 1) // 32)) AS u(j)),
        |r AS (SELECT doc_id, ci,
        |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, ci) AS rn
        |  FROM ch)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "boilerplate_ngrams" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |sh AS (SELECT DISTINCT doc_id, UNNEST(list_transform(
        |    generate_series(1, len(a) - 7),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' ||
        |         a[i+4] || ' ' || a[i+5] || ' ' || a[i+6] || ' ' || a[i+7])) AS ng
        |  FROM arr)
        |SELECT ng, COUNT(*) AS df FROM sh
        |GROUP BY ng ORDER BY df DESC, ng LIMIT 20""".stripMargin,

    "dedup_jaccard_histogram" ->
      s"""WITH $TOK,
         |$MINHASH,
         |dtk AS (SELECT DISTINCT doc_id, token FROM tok),
         |ts AS (SELECT doc_id, COUNT(*) AS sz FROM dtk GROUP BY doc_id),
         |m AS (SELECT p.d1, p.d2, COUNT(t2.token) AS i
         |  FROM (SELECT d1, d2 FROM pairs WHERE (d1 * 31 + d2) % 50 = 0) p
         |  LEFT JOIN dtk t1 ON t1.doc_id = p.d1
         |  LEFT JOIN dtk t2 ON t2.doc_id = p.d2 AND t2.token = t1.token
         |  GROUP BY p.d1, p.d2)
         |SELECT LEAST(9, (10 * i) // (s1.sz + s2.sz - i)) AS bin,
         |  COUNT(*) AS n_pairs
         |FROM m JOIN ts s1 ON s1.doc_id = m.d1 JOIN ts s2 ON s2.doc_id = m.d2
         |GROUP BY 1 ORDER BY bin""".stripMargin,

    "dedup_threshold_sweep" ->
      s"""WITH $TOK,
         |$MINHASH,
         |dtk AS (SELECT DISTINCT doc_id, token FROM tok),
         |ts AS (SELECT doc_id, COUNT(*) AS sz FROM dtk GROUP BY doc_id),
         |m AS (SELECT p.d1, p.d2, COUNT(t2.token) AS i
         |  FROM (SELECT d1, d2 FROM pairs WHERE (d1 * 31 + d2) % 50 = 0) p
         |  LEFT JOIN dtk t1 ON t1.doc_id = p.d1
         |  LEFT JOIN dtk t2 ON t2.doc_id = p.d2 AND t2.token = t1.token
         |  GROUP BY p.d1, p.d2),
         |mu AS (SELECT m.d1, m.d2, m.i, s1.sz + s2.sz - m.i AS u
         |  FROM m JOIN ts s1 ON s1.doc_id = m.d1 JOIN ts s2 ON s2.doc_id = m.d2)
         |SELECT CAST(th.t AS BIGINT) AS j_tenths,
         |  CAST(SUM(CASE WHEN 10 * i >= th.t * u THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pairs,
         |  CAST(COUNT(DISTINCT CASE WHEN 10 * i >= th.t * u THEN d2 END) AS BIGINT)
         |    AS n_losers
         |FROM mu CROSS JOIN UNNEST([5, 6, 7, 8, 9]) AS th(t)
         |GROUP BY th.t ORDER BY j_tenths""".stripMargin,

    "minhash_calibration" ->
      s"""WITH $TOK,
         |$MINHASH,
         |dtk AS (SELECT DISTINCT doc_id, token FROM tok),
         |ts AS (SELECT doc_id, COUNT(*) AS sz FROM dtk GROUP BY doc_id),
         |sp AS (SELECT d1, d2 FROM pairs WHERE (d1 * 31 + d2) % 50 = 0),
         |m AS (SELECT p.d1, p.d2, COUNT(t2.token) AS i
         |  FROM sp p
         |  LEFT JOIN dtk t1 ON t1.doc_id = p.d1
         |  LEFT JOIN dtk t2 ON t2.doc_id = p.d2 AND t2.token = t1.token
         |  GROUP BY p.d1, p.d2),
         |mu AS (SELECT m.d1, m.d2, m.i, s1.sz + s2.sz - m.i AS u
         |  FROM m JOIN ts s1 ON s1.doc_id = m.d1 JOIN ts s2 ON s2.doc_id = m.d2),
         |mm AS (SELECT p.d1, p.d2,
         |    CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS matches
         |  FROM sp p
         |  JOIN sig s1 ON s1.doc_id = p.d1
         |  JOIN sig s2 ON s2.doc_id = p.d2 AND s2.seed = s1.seed
         |  GROUP BY p.d1, p.d2)
         |SELECT mm.matches, LEAST(9, (10 * mu.i) // mu.u) AS jbin,
         |  COUNT(*) AS n_pairs
         |FROM mm JOIN mu ON mu.d1 = mm.d1 AND mu.d2 = mm.d2
         |GROUP BY 1, 2 ORDER BY matches, jbin""".stripMargin,

    "psi_drift" ->
      """WITH dt AS (SELECT doc_id % 2 AS cohort,
        |    LEAST(15, len(string_split(text, ' ')) // 16) AS bucket FROM documents),
        |cb AS (SELECT bucket,
        |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM dt GROUP BY bucket),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2 FROM cb)
        |SELECT COUNT(*) AS n_buckets,
        |  CAST(SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_buckets_used,
        |  ROUND(SUM(CASE WHEN c1 > 0 AND c2 > 0
        |    THEN (c1 * 1.0 / n1 - c2 * 1.0 / n2)
        |      * ln((c1 * 1.0 / n1) / (c2 * 1.0 / n2)) ELSE 0 END), 6) AS psi
        |FROM cb CROSS JOIN tot""".stripMargin,

    "zipf_slope" ->
      """WITH tc AS (SELECT token, COUNT(*) AS c
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1),
        |h AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
        |  FROM tc ORDER BY c DESC, token LIMIT 100)
        |SELECT COUNT(*) AS n_head,
        |  ROUND(regr_slope(ln(c), ln(rank)), 6) AS slope FROM h""".stripMargin,

    "incremental_dedup" ->
      s"""WITH $TOK,
         |$MINHASH,
         |fb AS (SELECT doc_id, CAST(SUM((strpos('0123456789abcdef',
         |      substr(md5(CAST(doc_id AS VARCHAR)), u.i, 1)) - 1)
         |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 10 AS m
         |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i) GROUP BY doc_id),
         |nb AS (SELECT b.doc_id AS nd, band, bsig
         |  FROM bands b JOIN fb ON fb.doc_id = b.doc_id WHERE fb.m = 7),
         |ob AS (SELECT b.doc_id AS od, band, bsig
         |  FROM bands b JOIN fb ON fb.doc_id = b.doc_id WHERE fb.m <> 7)
         |SELECT nd AS doc_id, MIN(od) AS first_match,
         |  COUNT(DISTINCT od) AS n_matches
         |FROM nb JOIN ob USING (band, bsig)
         |GROUP BY nd ORDER BY doc_id""".stripMargin,

    "bm25_topk" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        |qt AS (SELECT doc_id, token FROM tok
        |  WHERE token IN ('spark', 'join', 'data')),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1)
        |SELECT tf.doc_id,
        |  ROUND(SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
        |    * (tf.tf * 2.2)
        |    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS bm25
        |FROM tf JOIN dfq USING (token)
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
        |GROUP BY tf.doc_id
        |ORDER BY bm25 DESC, tf.doc_id LIMIT 20""".stripMargin,

    "pii_redact" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(length(c_name)
        |    - length(regexp_replace(c_name, '[0-9]', '', 'g'))) AS BIGINT)
        |    AS digits_removed,
        |  COUNT(DISTINCT regexp_replace(c_name, '[0-9]+', '#', 'g'))
        |    AS distinct_redacted
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "bigram_logppl" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, UNNEST(w[1:len(w)-1]) AS t1, UNNEST(w[2:len(w)]) AS t2
        |  FROM w WHERE len(w) >= 2),
        |cnt AS (SELECT t1, t2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT t1, COUNT(*) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(-(SUM(ln(cnt.c2 * 1.0 / ctx.c1)) / COUNT(*)), 6) AS nll
        |FROM bg JOIN cnt USING (t1, t2) JOIN ctx USING (t1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "char_entropy" ->
      """WITH ch AS (SELECT doc_id, substr(text, u.i, 1) AS ch
        |  FROM documents, UNNEST(generate_series(1, length(text))) AS u(i)),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |  SUM(c * ln(c)) AS clc FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars,
        |  ROUND(ln(n_chars) - clc / n_chars, 6) AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin,

    "dedup_edit_distance" ->
      s"""WITH $TOK,
         |$MINHASH
         |SELECT d1, d2, levenshtein(a.text, b.text) AS lev,
         |  ROUND(1 - levenshtein(a.text, b.text) * 1.0
         |    / NULLIF(GREATEST(length(a.text), length(b.text)), 0), 6) AS sim
         |FROM pairs
         |  JOIN documents a ON a.doc_id = pairs.d1
         |  JOIN documents b ON b.doc_id = pairs.d2
         |WHERE (d1 * 31 + d2) % 50 = 0
         |  AND strlen(a.text) = length(a.text)
         |  AND strlen(b.text) = length(b.text)
         |ORDER BY d1, d2""".stripMargin,

    "dedup_source_matrix" ->
      s"""WITH $TOK,
         |$MINHASH
         |SELECT LEAST(a.source, b.source) AS s1,
         |  GREATEST(a.source, b.source) AS s2, COUNT(*) AS n_pairs
         |FROM pairs
         |  JOIN documents a ON a.doc_id = pairs.d1
         |  JOIN documents b ON b.doc_id = pairs.d2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_lang_matrix" ->
      s"""WITH $TOK,
         |$MINHASH
         |SELECT LEAST(a.lang, b.lang) AS l1,
         |  GREATEST(a.lang, b.lang) AS l2, COUNT(*) AS n_pairs
         |FROM pairs
         |  JOIN documents a ON a.doc_id = pairs.d1
         |  JOIN documents b ON b.doc_id = pairs.d2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "bpe_merge_candidates" ->
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |pr AS (SELECT substr(token, u.i, 1) AS c1,
        |    substr(token, u.i + 1, 1) AS c2
        |  FROM tok, UNNEST(generate_series(1, length(token) - 1)) AS u(i)
        |  WHERE length(token) >= 2)
        |SELECT c1, c2, COUNT(*) AS cnt FROM pr
        |GROUP BY 1, 2 ORDER BY cnt DESC, c1, c2 LIMIT 20""".stripMargin,

    "vocab_coverage_curve" ->
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
        |top AS (SELECT token, c, ROW_NUMBER() OVER (ORDER BY c DESC, token)
        |    AS rk
        |  FROM (SELECT * FROM cnt ORDER BY c DESC, token LIMIT 1000)),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
        |a AS (SELECT MAX(n) AS n,
        |  CAST(SUM(CASE WHEN rk <= 10 THEN c END) AS BIGINT) AS c10,
        |  CAST(SUM(CASE WHEN rk <= 100 THEN c END) AS BIGINT) AS c100,
        |  CAST(SUM(CASE WHEN rk <= 1000 THEN c END) AS BIGINT) AS c1000
        |  FROM top CROSS JOIN tot)
        |SELECT 10 AS k, c10 AS covered, ROUND(c10 * 1.0 / n, 6) AS share FROM a
        |UNION ALL SELECT 100, c100, ROUND(c100 * 1.0 / n, 6) FROM a
        |UNION ALL SELECT 1000, c1000, ROUND(c1000 * 1.0 / n, 6) FROM a
        |ORDER BY k""".stripMargin,

    "source_vocab_jaccard" ->
      """WITH sv AS (SELECT DISTINCT source,
        |    UNNEST(string_split(text, ' ')) AS token FROM documents),
        |sz AS (SELECT source, COUNT(*) AS n FROM sv GROUP BY 1),
        |it AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS i
        |  FROM sv a JOIN sv b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, i,
        |  ROUND(i * 1.0 / (z1.n + z2.n - i), 6) AS jaccard
        |FROM it JOIN sz z1 ON z1.source = s1 JOIN sz z2 ON z2.source = s2
        |ORDER BY s1, s2""".stripMargin,

    "kl_source_divergence" ->
      """WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM st GROUP BY 1),
        |ct AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT st.source, MAX(ns) AS n_tokens,
        |  ROUND(SUM((cs * 1.0 / ns) * ln((cs * 1.0 / ns) / (c * 1.0 / n))), 6)
        |    AS kl
        |FROM st JOIN ct USING (token) JOIN stot USING (source) CROSS JOIN tot
        |GROUP BY st.source ORDER BY st.source""".stripMargin,

    // stride-1 50-token windows, full-md5 span digests — DuckDB's
    // md5(str) equals Spark's md5(CAST(str AS BINARY)) (lowercase hex
    // of the UTF-8 bytes), so the span keys agree bit-for-bit
    "exact_substring_dedup" ->
      """WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(a, u.i, u.i + 49), ' ')) AS fp
        |  FROM arr, UNNEST(generate_series(1, len(a) - 49)) AS u(i)
        |  WHERE len(a) >= 50),
        |c AS (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n FROM g)
        |SELECT COUNT(DISTINCT fp) AS n_dup_spans,
        |  COUNT(*) AS n_doc_span_pairs,
        |  COUNT(DISTINCT doc_id) AS n_docs_affected
        |FROM c WHERE n >= 2""".stripMargin,

    "tokenizer_fertility" ->
      """WITH t AS (SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')) AS BIGINT) AS bpe,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
        |  ROUND(CASE WHEN SUM(ws) > 0
        |    THEN SUM(bpe) / CAST(SUM(ws) AS DOUBLE) END, 6) AS fertility,
        |  ROUND(CASE WHEN SUM(bpe) > 0
        |    THEN SUM(chars) / CAST(SUM(bpe) AS DOUBLE) END, 6) AS chars_per_token
        |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "pack_efficiency_sweep" ->
      """WITH h AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(SUM((strpos('0123456789abcdef', substr(md5(text), u.i, 1)) - 1)
        |      * CAST(POWER(16, 8 - u.i) AS BIGINT)) AS BIGINT) % 16 AS shard
        |  FROM documents, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY doc_id, text),
        |c AS (SELECT doc_id, n_tok, shard,
        |  SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |b AS (SELECT CAST(u.b AS BIGINT) AS budget FROM UNNEST([128, 256, 512]) AS u(b)),
        |p AS (SELECT b.budget, c.shard,
        |  CAST(FLOOR((c.cum - c.n_tok) / CAST(b.budget AS DOUBLE)) AS BIGINT) AS pack_id,
        |  c.n_tok FROM c CROSS JOIN b),
        |g AS (SELECT budget, shard, pack_id, CAST(SUM(n_tok) AS BIGINT) AS tokens
        |  FROM p GROUP BY 1, 2, 3),
        |meas AS (SELECT budget, COUNT(*) AS n_packs,
        |  CAST(SUM(CASE WHEN tokens > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST(SUM(tokens) AS BIGINT) AS tokens_total,
        |  CAST(COUNT(*) * budget AS BIGINT) AS capacity,
        |  (CAST(SUM(tokens) AS BIGINT) * 1000000) // (COUNT(*) * budget) AS fill_ppm
        |  FROM g GROUP BY budget)
        |SELECT b.budget, CAST(COALESCE(m.n_packs, 0) AS BIGINT) AS n_packs,
        |  m.n_overflow, m.tokens_total,
        |  CAST(COALESCE(m.capacity, 0) AS BIGINT) AS capacity, m.fill_ppm
        |FROM b LEFT JOIN meas m ON m.budget = b.budget
        |ORDER BY b.budget""".stripMargin,

    "eval_contamination_report" ->
      """WITH arr AS (SELECT doc_id, source, string_split(text, ' ') AS a FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source, UNNEST(list_transform(
        |    generate_series(1, len(a) - 7),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' ||
        |         a[i+4] || ' ' || a[i+5] || ' ' || a[i+6] || ' ' || a[i+7])) AS sh
        |  FROM arr),
        |tr AS (SELECT DISTINCT sh FROM sh WHERE source <> 'src0'),
        |ev AS (SELECT doc_id, sh FROM sh WHERE source = 'src0'),
        |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM ev GROUP BY 1),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM ev
        |  WHERE sh IN (SELECT sh FROM tr) GROUP BY 1)
        |SELECT doc_id, n_sh, n_hit, ROUND(n_hit / n_sh, 6) AS leakage
        |FROM tot JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "dsir_importance_weights" ->
      """WITH tok AS (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |v AS (SELECT COUNT(DISTINCT token) AS vocab FROM tok),
        |ev AS (SELECT token, COUNT(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n FROM tok WHERE source = 'src0'),
        |tr AS (SELECT doc_id, token FROM tok WHERE source <> 'src0'),
        |cs AS (SELECT token, COUNT(*) AS cs FROM tr GROUP BY 1),
        |ns AS (SELECT COUNT(*) AS n FROM tr),
        |ratio AS (SELECT cs.token,
        |    ln((COALESCE(ev.ct, 0) + 1) * 1.0 / (nt.n + v.vocab))
        |  - ln((cs.cs + 1) * 1.0 / (ns.n + v.vocab)) AS lr
        |  FROM cs LEFT JOIN ev USING (token)
        |  CROSS JOIN nt CROSS JOIN ns CROSS JOIN v)
        |SELECT tr.doc_id, COUNT(*) AS n_tok, ROUND(SUM(r.lr) / COUNT(*), 6) AS w
        |FROM tr JOIN ratio r USING (token)
        |GROUP BY 1 ORDER BY w DESC, doc_id LIMIT 50""".stripMargin,

    "ccnet_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM tok),
        |nl AS (SELECT doc_id, lang, COUNT(*) AS n_tok,
        |  ROUND(-(SUM(ln(cnt.c * 1.0 / tot.n)) / COUNT(*)), 6) AS nll
        |  FROM tok JOIN cnt USING (token) CROSS JOIN tot
        |  GROUP BY doc_id, lang),
        |cuts AS (SELECT lang, quantile_cont(nll, CAST(1 AS DOUBLE)/3) AS b1,
        |  quantile_cont(nll, CAST(2 AS DOUBLE)/3) AS b2 FROM nl GROUP BY 1)
        |SELECT nl.lang,
        |  CAST(CASE WHEN nl.nll <= c.b1 THEN 1 WHEN nl.nll <= c.b2 THEN 2
        |    ELSE 3 END AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(nl.n_tok) AS BIGINT) AS tokens,
        |  ROUND(MIN(nl.nll), 6) AS min_nll, ROUND(MAX(nl.nll), 6) AS max_nll
        |FROM nl JOIN cuts c USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
  )
}
