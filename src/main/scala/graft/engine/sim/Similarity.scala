package graft.engine.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MeasuredCheckpoint
import graft.engine.{ArrayMath, Fan, Tables}

/** Similarity search over the `embeddings` table (SURVEY.md §2.2
  * #19, #20, #24 + embedding-cosine near-dedup and the LSH-bucketed
  * ANN scale path).
  *
  * Brute-force cosine/kNN are declared exactly (sf-bounded: 2 000
  * vectors at bench scale); `ann_lsh_topk` is the 100 TB design — an
  * 8-bit random-hyperplane bucket (deterministic integer projections,
  * reproduced by the oracle) restricts candidate pairs to same-bucket
  * vectors, turning O(n²·d) into Σ bucket² — at real scale the bucket
  * join is a shuffle-bounded equi-join and the projection matrix is a
  * broadcast constant.
  *
  * Ordering discipline: pairwise ranking keys are the ROUNDED
  * similarity plus both ids, so cross-engine ulp drift in the 64-term
  * dot products cannot reorder results (§7.6).
  */
object Similarity {

  /** The BUILD plan of [[vecs]], package-private for graft.tools.Plans:
    * one embeddings scan through [[Tables.cleanVectors]] (without it
    * the pairwise kernels NPE on the first corrupt row), fanned by
    * [[Fan.ifNarrow]] (a one-row-group scan would pin every pairwise
    * stage above it to one core), then the cast and the norm. */
  private[graft] def vecsPlan(s: SparkSession, d: String): DataFrame = {
    // register up front: the FuseVectorKernels rule rewrites l2Norm's
    // portable aggregate(transform(x·x)) into the fused dot_prod(f, f)
    graft.engine.expr.GraftFunctions.register(s)
    val raw = Tables.embeddings(s, d)
    Fan.ifNarrow(Tables.cleanVectors(raw).select("vec_id", "embedding", "label"), s"$d|vecWidth")(raw)
      .select(col("vec_id"), ArrayMath.toDouble(col("embedding")).as("f"), col("label"))
      .select(col("vec_id"), col("f"), ArrayMath.l2Norm(col("f")).as("nrm"), col("label"))
  }

  private val vecCache = new graft.engine.SessionCache[DataFrame]

  /** The vector universe `(vec_id, f: array<double>, nrm, label)`:
    * [[vecsPlan]] as ONE [[MeasuredCheckpoint]] per memo epoch, which
    * every similarity query and index builder reads. Building it
    * raises [[Tables.cleanVectors]]' dimension-gate error. */
  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    vecCache.get(s, d)(MeasuredCheckpoint(vecsPlan(s, d)))

  /** LSH sign bits per table: smallest b ≥ 3 with 64·2^b ≥ n, i.e. the
    * expected bucket occupancy stays ≈64 as the corpus grows — the
    * published LSH scale knob (candidates/table ≈ n·64 instead of
    * n²/2^const). Integer comparison, no float log: the DuckDB oracle
    * derives the same b via the same shift inequality, so an
    * exact-power-of-two corpus can't round differently across engines. */
  private[graft] def lshBits(n: Long): Int = {
    var b = 3
    while ((64L << b) < n && b < 20) b += 1
    b
  }

  /** IVF cell count: smallest k with k² ≥ n (≈√n — the classic IVF
    * sizing: cells and cell size both grow as √n, so candidate work
    * per query is O(√n), total O(n^1.5), never O(n²)). Same integer
    * form in the oracle. */
  private[graft] def ivfK(n: Long): Long = {
    var k = 1L
    while (k * k < n) k += 1
    k
  }

  /** Collected (id, vector, norm) triples, id-ordered — broadcast to
    * every task for the `knn_per_vector` kernel ONLY (the one pairwise
    * op where a per-row bounded selection beats the declarative
    * window form ~6×; cosine_topk/embedding_cosine_dedup run as
    * distributed cross joins, and the 100 TB similarity paths are the
    * ANN operators). Callers MUST size-gate: knn_per_vector only
    * reaches this below `graft.sim.knnKernelMaxRows` (above it the
    * query plans the distributed window form instead), so the collect
    * is bounded by an explicit contract, not a fixture accident. */
  private def collectVecs(s: SparkSession, d: String): Array[(Long, Array[Double], Double)] = {
    import s.implicits._
    vecs(s, d).select("vec_id", "f", "nrm").as[(Long, Array[Double], Double)]
      .collect().sortBy(_._1)
  }

  /** Matches Spark's `round(c, 6)` semantics (HALF_UP on the shortest
    * decimal representation) so kernel output hash-matches the
    * declarative form. CAVEAT — this is NOT exactly DuckDB's
    * ROUND(DOUBLE, 6): Spark rounds the shortest decimal repr while
    * DuckDB rounds the binary-scaled value, so doubles sitting on a
    * 1e-6 half boundary can round apart (e.g. 0.0001245 → 0.000125
    * Spark vs 0.000124 DuckDB). The fixtures avoid such boundaries
    * (flake-probed per SURVEY §7.6; the one observed instance,
    * incremental_ann_upsert round 6, was reworked to exact-integer
    * cores) — a future boundary hit is a FIXTURE-value event to fix
    * by rule (c), not a code bug to chase. */
  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ANN answer frames memoized per (session, sfDir, algo) as
    * measured checkpoints: `ann_recall` re-runs BOTH approximate pipelines to
    * grade them, so without the memo each pipeline executed twice per
    * bench/verify pass (once declared, once inside the measurement).
    * The cached frame is the small (query → nn) answer table; the
    * declared queries re-apply their total order on read. */
  private val annCache = new graft.engine.SessionCache[DataFrame]

  /** The (id1, nn_id, cos) answer table of `ann_lsh_topk` (`algo`
    * "lsh") or `ann_ivf_topk` ("ivf"), memoized. */
  private[graft] def annAnswer(s: SparkSession, d: String, algo: String): DataFrame =
    annCache.get(s, s"$d|$algo")(
      MeasuredCheckpoint(if (algo == "lsh") annLshPlan(s, d) else annIvfPlan(s, d)))

  /** The sampled brute-force nearest-neighbor TRUTH (1-in-13 query
    * sample, broadcast-kernel argmax — see `ann_recall` for the
    * measurement rationale), memoized per (session, sfDir): four
    * declared measurement queries (`ann_recall`, `ann_nprobe_sweep`,
    * `lsh_tables_sweep`, `ann_sq_rescore_sweep`) grade against the
    * SAME truth table, each grading all of its operating points in
    * one pass (`gradePoints`); re-deriving the |Q|·n kernel per
    * consumer was ~0.6 s of duplicated work. Shared-INPUT memo
    * (the Bench re-run discipline): consumers still execute their
    * full declared measurement plan over it. */
  private[graft] def sampledTruth(s: SparkSession, d: String): DataFrame =
    annCache.get(s, s"$d|truth13") {
      graft.engine.expr.GraftFunctions.register(s)
      val v = vecs(s, d)
      val q = v.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1"))
      MeasuredCheckpoint(broadcast(q)
        .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")))
        .filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"),
          when(col("n1") * col("n2") > 0, round(ArrayMath.dotNative(col("f1"), col("f2")) / (col("n1") * col("n2")), 6)).as("cos"))
        .groupBy("id1")
        .agg(max(struct(col("cos"), (-col("id2")).as("nid"))).as("m"))
        .select(col("id1"), (-col("m.nid")).as("true_nn")))
    }

  /** Exact all-pairs cosine over the declarative block-cartesian join
    * (`crossJoin` → CartesianProduct: partitions pair block-wise
    * across executors, NO driver collect / broadcast of the table) +
    * the fused `dot_prod` expression. The O(n²) work is inherent to
    * the exact declared semantics; the POINT is that the plan
    * distributes it — the scale answer to "top-k similar at 100 TB"
    * is the ANN operators, not a faster brute force. */
  private def cosPairs(s: SparkSession, d: String): DataFrame = {
    graft.engine.expr.GraftFunctions.register(s)
    val v = vecs(s, d)
    v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1"))
      .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        when(col("n1") * col("n2") > 0, round(ArrayMath.dotNative(col("f1"), col("f2")) / (col("n1") * col("n2")), 6)).as("cos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // #19 top-100 most-similar pairs by cosine — distributed exact
    // all-pairs; TakeOrderedAndProject keeps the 100 per partition
    // then on the driver (bounded by k, never by n²).
    "cosine_topk" -> ((s, d) =>
      cosPairs(s, d)
        .orderBy(desc("cos"), col("id1"), col("id2"))
        .limit(100)),

    // #20 5 nearest neighbors per vector (Euclidean) — SIZE-GATED
    // like near_dedup_groups gates its union-find: the broadcast
    // kernel below runs only while the vector table fits a sane
    // broadcast (`graft.sim.knnKernelMaxRows`, default 100 000 rows ≈
    // 50 MB at 64-d — one copy per executor, NOT per task); above the
    // gate the query silently switches to the fully distributed
    // cross-join + per-vector window form (identical declared
    // semantics, proven equivalent in SimilaritySpec), so the API is
    // never a driver-memory trap at scale — at 100 TB the honest
    // answer is the ANN operators either way.
    // Below the gate: bounded top-k selection per vector inside the
    // task — a 16-slot
    // insertion-sorted (unrounded d², id2) shortlist in primitive
    // arrays (zero allocation / boxing / BigDecimal per candidate —
    // the round-1 form sorted all 2 000 rounded candidates per row and
    // regressed 7× at local[32]), then the 16 survivors are rounded
    // and re-ranked by (round6(dist), id2) exactly like the oracle's
    // ROW_NUMBER() OVER (ORDER BY dist, id2). PROVABLY exact:
    // round6∘sqrt is monotone in d², so an excluded candidate (unrounded
    // rank > 16) can only matter if its rounded dist TIES the rounded
    // 5th — which forces rounded(16th) == rounded(5th); when that rare
    // collapse is detected the row falls back to a full rescan sorted
    // on the declared (rounded, id) key (needs 12+ candidates inside
    // one 1e-6 bin — continuous data, so the fallback is ~never hit,
    // but the semantics no longer rely on that).
    "knn_per_vector" -> ((s, d) => {
      import s.implicits._
      val gate = s.conf.get("graft.sim.knnKernelMaxRows", "100000").toLong
      val nRows = vecs(s, d).count()
      if (nRows > gate) {
        // distributed exact form: block-cartesian pairs + per-vector
        // window ranked on the declared (round6(dist), id2) key — no
        // driver collect anywhere, same oracle semantics.
        println(s"[graft] knn_per_vector($d): $nRows rows > gate $gate -> distributed window form")
        graft.engine.expr.GraftFunctions.register(s)
        val v = vecs(s, d)
        val w = Window.partitionBy("id1").orderBy(col("dist"), col("id2"))
        v.select(col("vec_id").as("id1"), col("f").as("f1"))
          .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2")))
          .filter(col("id1") =!= col("id2"))
          .select(col("id1"), col("id2"),
            round(sqrt(ArrayMath.sqDistNative(col("f1"), col("f2"))), 6).as("dist"))
          .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
          .select(col("id1"), col("rank"), col("id2"), col("dist"))
          .orderBy("id1", "rank")
      } else {
      val triples = collectVecs(s, d)
      val ids = triples.map(_._1)
      val feats = triples.map(_._2)
      val all = s.sparkContext.broadcast((ids, feats))
      val K = 16
      vecs(s, d).select("vec_id", "f", "nrm").as[(Long, Array[Double], Double)]
        .mapPartitions { it =>
          val (vid, vf) = all.value
          val n = vid.length
          it.flatMap { case (id1, f1, _) =>
            val bd = new Array[Double](K) // shortlist distances (d²), ascending
            val bi = new Array[Long](K)   // shortlist ids, tie-break ascending
            var filled = 0
            var c = 0
            while (c < n) {
              val id2 = vid(c)
              if (id2 != id1) {
                val f2 = vf(c)
                var d2 = 0.0; var i = 0
                while (i < f1.length) { val t = f1(i) - f2(i); d2 += t * t; i += 1 }
                if (filled < K || d2 < bd(K - 1) || (d2 == bd(K - 1) && id2 < bi(K - 1))) {
                  var p = math.min(filled, K - 1) - 1
                  var j = math.min(filled, K - 1)
                  while (p >= 0 && (bd(p) > d2 || (bd(p) == d2 && bi(p) > id2))) {
                    bd(j) = bd(p); bi(j) = bi(p); p -= 1; j -= 1
                  }
                  bd(j) = d2; bi(j) = id2
                  if (filled < K) filled += 1
                }
              }
              c += 1
            }
            val ranked = Array.tabulate(filled)(i => (round6(math.sqrt(bd(i))), bi(i)))
            ranked.sortInPlaceBy(identity)
            val top: Iterator[(Double, Long)] =
              if (filled == K && round6(math.sqrt(bd(K - 1))) == ranked(4)._1) {
                // rounding collapsed the 5th..16th bins: the shortlist
                // cannot prove the id tie-break against candidates it
                // dropped — rescan THIS row on the exact declared key
                val all = new scala.collection.mutable.ArrayBuffer[(Double, Long)](n)
                var c2 = 0
                while (c2 < n) {
                  val id2 = vid(c2)
                  if (id2 != id1) {
                    val f2 = vf(c2)
                    var dd = 0.0; var i2 = 0
                    while (i2 < f1.length) { val t = f1(i2) - f2(i2); dd += t * t; i2 += 1 }
                    all += ((round6(math.sqrt(dd)), id2))
                  }
                  c2 += 1
                }
                all.sortInPlace().iterator
              } else ranked.iterator
            top.take(5).zipWithIndex.map { case ((dist, id2), r) =>
              (id1, r + 1, id2, dist)
            }
          }
        }
        .toDF("id1", "rank", "id2", "dist")
        .orderBy("id1", "rank")
      }
    }),

    // #24 per-label L2-norm quality screen
    "embedding_norm_stats" -> ((s, d) =>
      vecs(s, d).groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg("nrm"), 6).as("mean_norm"),
          round(min("nrm"), 6).as("min_norm"), round(max("nrm"), 6).as("max_norm"))
        .orderBy("label")),

    // per-DIMENSION distribution screen (embedding drift/QA: a dead or
    // exploding dimension shows up here immediately). posexplode →
    // 64-group partial+final hash aggregate — one pass, map-side
    // combined, no joins.
    "embedding_dim_stats" -> ((s, d) =>
      vecs(s, d).select(posexplode(col("f")).as(Seq("p", "x")))
        .select((col("p") + 1).cast("long").as("dim"), col("x"))
        .groupBy("dim")
        .agg(round(avg("x"), 6).as("mean_x"),
          round(stddev_samp("x"), 6).as("sd_x"),
          round(min("x"), 6).as("min_x"), round(max("x"), 6).as("max_x"))
        .orderBy("dim")),

    // Cohort centroid SHIFT per dimension — "did the embedding
    // distribution move between ingest slices": per (label, dim), the
    // even-vec_id cohort's mean minus the odd cohort's (parity models
    // slice A/B; production compares crawl dates or encoder
    // versions). A drifting encoder or a skewed new batch shows up as
    // a consistent nonzero band across dims; the per-dim layout keeps
    // every hashed float a single rounded difference of two avgs (no
    // cross-dim float sum to be reduction-order-sensitive). Scale
    // shape: one posexplode + one (label, dim) hash agg, map-side
    // combined — the embedding_dim_stats plan with a cohort split.
    "embedding_centroid_shift" -> ((s, d) =>
      vecs(s, d).select(col("vec_id"), col("label"), posexplode(col("f")).as(Seq("p", "x")))
        .select(col("label"), (col("p") + 1).cast("long").as("dim"),
          (col("vec_id") % 2).as("m"), col("x"))
        .groupBy("label", "dim")
        .agg(sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("m") === 1, 1L).otherwise(0L)).as("n_b"),
          round(avg(when(col("m") === 0, col("x")))
            - avg(when(col("m") === 1, col("x"))), 6).as("shift"))
        .orderBy("label", "dim")),

    // int8 QUANTIZATION QA — the screen a pipeline runs before
    // building a quantized ANN index / serving cache: per-vector
    // symmetric int8 scale (max |x|; |q| ≤ 127 by construction, no
    // clipping) and the dequantization MSE. All per-row HOF arithmetic
    // (no shuffle beyond the final sort); every op is a single IEEE
    // mul/div/round both engines execute identically, and the 64-term
    // error sum follows the repo's accepted ROUND(·,6) discipline.
    // per-row folds are the codegen'd abs_max / quant_sse kernels
    // (expr/VecKernels.scala — the former aggregate(...) lambdas ran
    // interpreted per element; SqlAndExprSpec pins both against the
    // HOF forms including the BigDecimal HALF_UP round)
    "embedding_quantize" -> ((s, d) =>
      vecs(s, d).select(col("vec_id"), col("f"))
        .withColumn("scale", expr("abs_max(f)"))
        // sc guards the all-zero vector: Spark's 0.0/0.0 is NaN while
        // DuckDB's is NULL — divide by 1 instead (every x is 0, so the
        // quantization is exactly zero error either way)
        .withColumn("sc", when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")))
        .withColumn("sse", expr("quant_sse(f, sc)"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(col("sse") / size(col("f")), 6).as("mse"))
        .orderBy("vec_id")),

    // Johnson–Lindenstrauss random sign projection 64 → 8 dims with a
    // DETERMINISTIC ±1 matrix (parity of the md5-fold of "rp{i}_{j}"
    // — no RNG state, any cluster size and both engines agree on
    // every sign). The dimensionality-reduction step before a cheap
    // ANN index or distance sketch. Determinism of the sums: each
    // product x·(±1) keeps the float's 24-bit mantissa, so the ≤64-
    // term double sums are EXACT regardless of aggregation order, and
    // the /√8 is one correctly-rounded IEEE op in both engines. Scale
    // shape: posexplode → broadcast join with the (dims×8)-row sign
    // matrix (built distributed from the data's own dimension ids —
    // no driver loop) → partial+final hash agg; one shuffle on
    // (vec_id, j).
    "embedding_project" -> ((s, d) => {
      val k = 8
      val e = vecs(s, d).select(col("vec_id"), posexplode(col("f")).as(Seq("p", "x")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("x"))
      val proj = e.select("i").distinct()
        .crossJoin(s.range(1, k + 1).toDF("j"))
        .withColumn("__h", md5(concat(lit("rp"), col("i"), lit("_"), col("j")).cast("binary")))
        .withColumn("sgn",
          when(expr(graft.engine.text.TextOps.foldDigitsSql("__h", 8)) % 2 === 0, lit(1.0))
            .otherwise(lit(-1.0)))
        .select("i", "j", "sgn")
      e.join(broadcast(proj), "i")
        .groupBy("vec_id", "j")
        .agg(round(sum(col("x") * col("sgn")) / math.sqrt(k), 6).as("comp"))
        .orderBy("vec_id", "j")
    }),

    // prototype selection / coreset sampling: the 5 vectors CLOSEST
    // to each label's centroid — the representative-example pick a
    // training pipeline publishes per class (and the seed set for
    // active-learning loops). Scale shape: centroids are one
    // (label, dim) hash agg (labels×dims rows, BROADCAST back),
    // distances one map-side join + per-vector agg, and the top-5 a
    // label-partitioned window over the per-label candidate sets —
    // never a global sort. Ordering collapses d² to ROUND(·,6) with
    // a vec_id tie-break so both engines rank identically even where
    // float summation order differs in the last bits.
    "label_centroid_topk" -> ((s, d) => {
      val e = vecs(s, d).select(col("vec_id"), col("label"),
          posexplode(col("f")).as(Seq("p", "x")))
        .select(col("vec_id"), col("label"), (col("p") + 1).cast("long").as("i"), col("x"))
      val c = e.groupBy("label", "i").agg(avg("x").as("mu"))
      val d2 = e.join(broadcast(c), Seq("label", "i"))
        .groupBy("vec_id", "label")
        .agg(sum((col("x") - col("mu")) * (col("x") - col("mu"))).as("d2"))
      val w = Window.partitionBy("label").orderBy(round(col("d2"), 6), col("vec_id"))
      d2.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("label"), col("vec_id"), round(col("d2"), 6).as("d2"), col("rn"))
        .orderBy("label", "rn")
    }),

    // INCREMENTAL index maintenance — the ANN sibling of
    // `incremental_dedup`: a 10% "incoming batch" (vec_id mod 10 = 7)
    // is assigned into the EXISTING corpus cells (per-label centroids
    // of the base vectors) without touching base-vector pairings —
    // cost ∝ batch × cells, never corpus. This is the daily-upsert
    // shape of a served IVF index: new embeddings route to their
    // coarse cell; only the routed cells' postings grow. Scale shape:
    // base centroids are one hash agg (labels×dims rows, BROADCAST),
    // batch-to-cell distances one map-side join + per-(vec, cell) agg,
    // one batch-partitioned window.
    //
    // EXACT-INTEGER core (§7.6 rule b — this op DID flake: DuckDB's
    // parallel float AVG accumulates in run-dependent order and one
    // sf0.001 rounded mean sat on a 6-dp boundary, flipping between
    // probe runs). Embeddings are micro-quantized per ROW
    // (floor(x·1e6) — one float op on identical inputs, deterministic
    // in both engines), centroids stay exact (SUM, COUNT) integer
    // pairs (μ = S/n never materialized as a float), and per-
    // (vec, cell) distance is Σ(n·x − S)² in exact DECIMAL — so the
    // single double division d2s/(n²·1e12) has bit-identical operands
    // everywhere and every ranking/output value is reproducible under
    // ANY parallelism. Output d² mass is integer ppm for the same
    // reason (the token_budget_sample rate_ppm discipline).
    "incremental_ann_upsert" -> ((s, d) => {
      // DECLARED DOMAIN (round-13 verdict item 2): |component| < 1e7.
      // Past it the micro-quantization loses the int64 headroom this
      // op's exact-integer core is built on, and unguarded the two
      // engines abort DIFFERENTLY (Spark ARITHMETIC_OVERFLOW vs DuckDB
      // int64 conversion) deep in the plan. The gate turns that into
      // ONE designed, spec-pinned error (AdversarialBoundarySpec);
      // in-domain corpora never evaluate the otherwise branch, so
      // oracle parity is untouched. Per-element when() rides the same
      // codegen'd projection as the quantization itself — no extra
      // pass.
      val e = vecs(s, d).select(col("vec_id"), col("label"),
          posexplode(col("f")).as(Seq("p", "x")))
        .select(col("vec_id"), col("label"), (col("p") + 1).cast("long").as("i"),
          when(abs(col("x")) < lit(Tables.maxAbsComponent),
            floor(col("x") * lit(1e6)).cast("long"))
            .otherwise(raise_error(lit("incremental_ann_upsert: |embedding component| >= 1e7 " +
              "is outside the declared quantization domain (int64 micro-quantization headroom, SURVEY §7.6)")))
            .as("xi"))
      val cent = e.filter(col("vec_id") % 10 =!= 7)
        .groupBy("label", "i")
        .agg(sum("xi").as("sm"), count(lit(1)).as("n"))
        .select(col("label").as("cell"), col("i"), col("sm"), col("n"))
      // 64-bit headroom: xi·n − sm is Long math BEFORE the DECIMAL
      // cast, exact only while |n·x·1e6| < 2^63 ≈ 9.2e18 — i.e.
      // per-cell count × |component| < 9.2e12, comfortable for unit-
      // normalized embeddings at any realistic cell size (1e9 vectors
      // × |x| ≤ 1e3). Beyond it, non-ANSI Spark would wrap silently
      // where DuckDB raises; cast xi/sm to DECIMAL first if a
      // deployment ever nears the bound.
      val t = (col("xi") * col("n") - col("sm")).cast("decimal(19,0)")
      val d2 = e.filter(col("vec_id") % 10 === 7)
        .join(broadcast(cent), "i")
        .groupBy("vec_id", "cell")
        .agg(sum(t * t).as("d2s"), max("n").as("n"), min("n").as("n_min"))
      // d2s/n² assumes ONE n per cell (fixed dimensionality): with
      // ragged embedding arrays n varies per dim and both engines
      // would agree on a self-consistent WRONG distance (the oracle
      // cannot catch it) — so ragged input fails loudly instead
      val dv = when(col("n_min") === col("n"),
        col("d2s").cast("double") / (col("n") * col("n")).cast("double") / lit(1e12))
        .otherwise(raise_error(lit(
          "incremental_ann_upsert: ragged embedding dimensionality within a cell")))
      // nearest cell per batch vector as a map-side-combinable
      // min(struct(dv, cell)) — identical pick to the former
      // row_number-over-(dv ASC, cell) window (dv is finite and
      // non-negative by the gates above; (dv, cell) is a total order
      // within a vector), without the per-vector sort/window buffer,
      // and with partial aggregation collapsing the (vec, cell) rows
      // before the vec_id exchange
      d2.select(col("vec_id"),
          struct(dv.as("dv"), col("cell").as("cell")).as("sc"))
        .groupBy("vec_id").agg(min("sc").as("m"))
        .select(col("m.cell").as("cell"),
          floor(col("m.dv") * lit(1e6)).cast("long").as("d2_ppm"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_new"), sum("d2_ppm").as("sum_d2_ppm"))
        .orderBy("cell")
    }),

    // per-dimension z-score standardization — the feature-scaling
    // pass before PCA/k-means/quantile bucketing. Declared output is
    // the standardized components of the first 100 vectors against
    // FULL-corpus per-dimension statistics (the sample prunes the
    // OUTPUT, never the statistics). Scale shape: posexplode → one
    // per-dim hash agg (≤dims rows, BROADCAST back) → map-side
    // (x−μ)/σ transform — the corpus never joins itself and nothing
    // sorts globally.
    "embedding_standardize" -> ((s, d) => {
      val e = vecs(s, d).select(col("vec_id"), posexplode(col("f")).as(Seq("p", "x")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("dim"), col("x"))
      val stats = e.groupBy("dim")
        .agg(avg("x").as("mu"), stddev_samp("x").as("sd"))
      e.filter(col("vec_id") < 100)
        .join(broadcast(stats), "dim")
        // constant dimension (sd = 0): NULL in both engines, never
        // Spark-NaN-vs-DuckDB-NULL divergence
        .select(col("vec_id"), col("dim"),
          round(when(col("sd") > 0, (col("x") - col("mu")) / col("sd")), 6).as("z"))
        .orderBy("vec_id", "dim")
    }),

    // embedding-cosine near-dup candidates (threshold 0.3; data max
    // cosine ≈ 0.40, so this yields a small deterministic pair set) —
    // same distributed exact all-pairs, filter fused into the scan
    "embedding_cosine_dedup" -> ((s, d) =>
      cosPairs(s, d)
        .filter(col("cos") >= 0.3)
        .orderBy("id1", "id2")),

    // ANN via deterministic random-hyperplane LSH, multi-table banding:
    // 15 integer-weight projections = 5 tables × 3 sign bits; candidate
    // pairs share a (table, signature) bucket in ANY table; answer is
    // the best-cosine candidate per vector. Recall ≈ 0.7 vs brute force
    // on the sf0.001 fixture; at 100 TB the table join is a shuffle-
    // bounded equi-join on (table, sig) and tables/bits scale up.
    "ann_lsh_topk" -> ((s, d) =>
      annAnswer(s, d, "lsh").orderBy("id1")),
  ) ++ ivfAndRecall

  /** The 5-table sign-LSH signature table `(vec_id, t, sig)`.
    * Bits per table GROW WITH THE CORPUS (lshBits: expected bucket
    * ≈64), so Σ bucket² stays ≈ 64·n per table — the knob that keeps
    * the bucket equi-join linear-ish at 100 TB instead of silently
    * quadratic at a fixed bucket count. 5 table signatures per
    * vector in one map-side kernel pass — the integer projection
    * matrix is a compile-time constant (w(i,j) for 1-based dim i,
    * plane j), no shuffle until the bucket equi-join. Built once per
    * memo epoch by [[lshSignaturesCached]], which `ann_lsh_topk` and
    * `lsh_tables_sweep` read; package-private for ScaleShapeSpec's
    * kernel pin. */
  private[graft] def lshSignatures(s: SparkSession, d: String): DataFrame = {
      val v = vecs(s, d)
      val sp = v.sparkSession
      import sp.implicits._
      val bits = lshBits(v.count())
      def wt(i: Int, j: Int): Long =
        (((i * 73 + 19) * (j * 31 + 7) + i.toLong * j * j + i.toLong * i) % 13) - 6
      v.select("vec_id", "f").as[(Long, Array[Double])]
        .mapPartitions { it =>
          it.flatMap { case (id, f) =>
            (0 until 5).map { t =>
              var sigv = 0L
              var b = 0
              while (b < bits) {
                val j = t * bits + b
                var proj = 0.0
                var i = 0
                while (i < f.length) { proj += f(i) * wt(i + 1, j); i += 1 }
                // sign of the ROUNDED projection (§7.6): an unrounded
                // near-zero projection could hash to different buckets
                // across engines under summation-order drift
                if (round6(proj) > 0) sigv |= (1L << b)
                b += 1
              }
              (id, t.toLong, sigv)
            }
          }
        }.toDF("vec_id", "t", "sig")
  }

  /** Attach vectors to candidate id pairs and score them: `cand`'s
    * columns pass through and `cos` is appended. Scoring is
    * SHUFFLE-BOUNDED: candidate pairs equi-join back to the vectors DF
    * on each side (never a driver collect / broadcast of the whole
    * table — that would cap the operator at driver memory). The dot
    * product is the fused native `dot_prod` expression (single
    * codegen'd loop, array-index order — bit-identical to the kernel
    * form and the oracle; the HOF form allocates a 64-element array
    * per candidate pair). The join strategy is the optimizer's size
    * call on the measured vector checkpoint: a broadcast while it is
    * small, a vec_id shuffle at 100 TB, where the pair table is ≪
    * corpus by the index's selectivity. */
  private def scorePairs(v: DataFrame, cand: DataFrame): DataFrame = {
    graft.engine.expr.GraftFunctions.register(v.sparkSession)
    cand
      .join(v.select(col("vec_id").as("id1"), col("f").as("f1"), col("nrm").as("n1")), "id1")
      .join(v.select(col("vec_id").as("id2"), col("f").as("f2"), col("nrm").as("n2")), "id2")
      .select(cand.columns.map(col).toSeq :+
        when(col("n1") * col("n2") > 0, round(ArrayMath.dotNative(col("f1"), col("f2")) / (col("n1") * col("n2")), 6)).as("cos"): _*)
  }

  /** The best candidate per query under the (ROUND(cos,6) DESC, id2)
    * key — the §7.6 discipline every consumer and oracle shares — as a
    * map-side-combinable max(struct): max picks the largest cos
    * (struct ordering ranks a null cos below every value, exactly a
    * window's DESC NULLS LAST), ties fall to -id2 max = id2 min. */
  private def bestCand: Column = struct(col("cos"), (-col("id2")).as("nid"))

  /** Score candidate id pairs and keep the best per query — the
    * shared tail of every candidate-generating ANN operator
    * (LSH / IVF / filtered). vs row_number-over-(cos DESC, id2): no
    * per-query sort, no whole-partition window buffer, and partial
    * aggregation collapses the candidate pairs BEFORE the id1
    * exchange — at 100 TB the shuffle carries ~1 row per (task, query)
    * instead of the full nprobe·√n candidate surface. */
  private def scoreBest(v: DataFrame, cand: DataFrame): DataFrame =
    scorePairs(v, cand)
      .groupBy("id1")
      .agg(max(bestCand).as("m"))
      .select(col("id1"), (-col("m.nid")).as("nn_id"), col("m.cos").as("cos"))

  /** The LSH answer PLAN over the memoized signatures, package-private
    * so ScaleShapeSpec keeps asserting its physical shape (the declared
    * query serves its measured checkpoint, an opaque LogicalRDD scan). */
  private[graft] def annLshPlan(s: SparkSession, d: String): DataFrame = {
      val v = vecs(s, d)
      val sig = lshSignaturesCached(s, d)
      val cand = sig.as("a").join(sig.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2")).distinct()
      scoreBest(v, cand)
  }

  private lazy val ivfAndRecall: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // IVF-style ANN (the second classic scale path next to LSH):
    // coarse cells = k ≈ √n deterministic SEED VECTORS (seedCells —
    // how a k-means coarse quantizer is initialized), every vector is
    // ASSIGNED to its nearest cell and each query PROBES its 2
    // nearest cells (nprobe=2); candidates = (query, vector assigned
    // to a probed cell); answer = best-cosine candidate per query.
    // All relational: the cell table is a broadcast dim (k ≪ n),
    // candidate generation is an equi-join on cell id (shuffle-
    // bounded — vectors co-locate by cell exactly as an IVF index
    // lays them out on disk), scoring is the fused `dot_prod`.
    // Ranking keys are ROUNDED (§7.6) with id tie-breaks.
    //
    // Cost/quality contract, MEASURED by the declared `ann_recall`
    // query: with k ≈ √n cells the probed candidate set is
    // nprobe·√n per query (O(n^1.5) total — the round-5 fixed-10-cell
    // layout scanned nprobe·n/10, i.e. quadratic in disguise). The
    // fixture embeddings are near-uniform (max pairwise cos ≈ 0.4),
    // the hard regime where ANY partition-based ANN's recall ≈ its
    // candidate fraction — so fixture recall reads low by
    // construction; on real clustered corpora the same plan shape
    // concentrates neighbors into few cells. nprobe is the recall/
    // cost knob, and the recall query is the meter for tuning it.
    "ann_ivf_topk" -> ((s, d) =>
      annAnswer(s, d, "ivf").orderBy("id1")),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding dedup
    // SCOPED TO COARSE CELLS — the published scale answer for "drop
    // semantic near-duplicates at corpus scale", and the declared
    // scale-safe sibling of the exact global `embedding_cosine_dedup`
    // (which is O(n²) by declared semantics). Every vector is assigned
    // to its nearest cell (the IVF rn=1 assignment, shared plan), and
    // ONLY within-cell pairs are scored: cost Σ|cell|², bounded by how
    // fine the cell partition is — at 100 TB the cells are k-means
    // centroids with k chosen so |cell| stays task-sized, and the
    // candidate generation is the same cell equi-join an IVF index
    // runs, with BARE ID PAIRS through the shuffle and vectors
    // attached after (the ~50× shuffle-bytes lesson). A vector is
    // dropped iff a SMALLER-id same-cell vector sits at cos ≥ 0.3
    // (min-id survivor, the exact_dedup keeper discipline; 0.3 is
    // embedding_cosine_dedup's declared near-dup threshold on this
    // near-uniform fixture). Declared output is the per-cell audit.
    "semdedup_embedding" -> ((s, d) => {
      val v = vecs(s, d)
      val assigned = cellRankedCached(s, d).filter(col("rn") === 1)
        .select("vec_id", "cell")
      val cand = assigned.select(col("cell"), col("vec_id").as("id1"))
        .join(assigned.select(col("cell"), col("vec_id").as("id2")), "cell")
        .filter(col("id1") < col("id2"))
      // both counts from ONE scoring: a cell's dup pairs are the sum
      // over its dropped vectors id2 of their pair counts
      val dup = scorePairs(v, cand).filter(col("cos") >= 0.3)
        .groupBy("cell", "id2").agg(count(lit(1)).as("k"))
        .groupBy("cell").agg(sum("k").as("n_dup_pairs"), count(lit(1)).as("n_dropped"))
      assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(dup, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy("cell")
    }),
  ) ++ recallEntry

  /** Coarse-cell table: k ≈ √n SEED VECTORS picked by a deterministic
    * id stride (cell id = the seed's vec_id, cf = its vector) — the
    * IVF layout's centroid dim, shared by `ann_ivf_topk` and
    * `semdedup_embedding`. A deterministic sample is exactly how a
    * k-means coarse quantizer is INITIALIZED, and (unlike the former
    * 10 fixed label-cells, which made every cell n/10 and the probe
    * work quadratic) it keeps both the cell count and the cell size
    * growing as √n — candidate work per query stays O(√n·nprobe) at
    * any corpus size. On a production build the seeds would be a few
    * Lloyd iterations better, same plan shape; k ≪ n always, so
    * consumers broadcast the cell dim. */
  private def seedCells(v: DataFrame, n: Long): DataFrame = {
    val stride = math.max(1L, n / ivfK(n))
    v.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cell"), col("f").as("cf"))
  }

  /** The cell ranking and the LSH signature table, materialized once
    * per memo epoch at session width. Every IVF and LSH consumer reads
    * them: the declared index operators (`ann_ivf_topk`,
    * `ann_lsh_topk`), the sweeps and the audit, filter and dedup
    * queries. The index operators' answer memo is in `Bench.ownMemo`,
    * so each cold-epoch attempt rebuilds these memos and the vectors
    * under them too: the cold bill still covers the whole build. */
  private val subCache = new graft.engine.SessionCache[DataFrame]

  /** POST-SHUFFLE re-fanned before the checkpoint ([[Fan.postShuffle]]):
    * AQE coalesces the small fixture surface to ~2 partitions and every
    * consumer pass would run 2-wide. A width-probe guard (the
    * [[Fan.ifNarrow]] pattern) can't work here: the AQE-final count
    * needs `.rdd` mid-build, which forces materialization. */
  private[graft] def cellRankedCached(s: SparkSession, d: String): DataFrame =
    subCache.get(s, s"$d|crk") {
      MeasuredCheckpoint(Fan.postShuffle(cellRanked(s, d)))
    }

  private[graft] def lshSignaturesCached(s: SparkSession, d: String): DataFrame =
    subCache.get(s, s"$d|lshsig") {
      MeasuredCheckpoint(Fan.postShuffle(lshSignatures(s, d)))
    }

  /** The deepest probe rank any consumer reads: `ann_nprobe_sweep`'s
    * largest operating point (`ann_ivf_topk` and `ann_filtered_topk`
    * probe 2, the assignment is rank 1). */
  private val maxProbe = 4

  /** Every vector ranked against every cell by ROUNDED squared
    * distance (rn = 1 is the assignment, rn ≤ nprobe the probe set),
    * kept to rn ≤ [[maxProbe]] (n·4 rows, not n·√n) — the IVF family's
    * shared front half, memoized by [[cellRankedCached]].
    * The vector's `label` rides along (one int per posting): IVF
    * postings carrying their filter metadata is the production
    * pre-filter layout, and it lets `ann_filtered_topk` apply its
    * label predicate directly on the cell join's two sides — the
    * round-7-advice alternative was a corpus-sized vec_id→label dim
    * force-broadcast onto each side, which cannot broadcast at 100 TB
    * (the hint would OOM instead of degrading to a shuffle). Column
    * pruning drops the label for every consumer that ignores it.
    * Package-private for graft.tools.Plans and ScaleShapeSpec. */
  private[graft] def cellRanked(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    graft.engine.expr.GraftFunctions.register(v.sparkSession)
    val d2 = v.join(broadcast(seedCells(v, v.count())))
      .withColumn("d2", round(ArrayMath.sqDistNative(col("f"), col("cf")), 6))
    val wCell = Window.partitionBy("vec_id").orderBy(col("d2"), col("cell"))
    d2.select(col("vec_id"), col("cell"), col("d2"), col("label"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= maxProbe)
  }

  /** The IVF answer PLAN over the memoized cell ranking,
    * package-private for ScaleShapeSpec (see annLshPlan). Candidates
    * are the (query, vector) pairs where the query probes (rn ≤ 2) the
    * vector's assigned cell (rn = 1). */
  private[graft] def annIvfPlan(s: SparkSession, d: String): DataFrame = {
      val ranked = cellRankedCached(s, d)
      // candidates are generated as BARE ID PAIRS — the cell join's
      // output multiplies rows by Σ|cell|·|probes-in-cell|, and
      // carrying the 64-double vectors through that join is ~50×
      // the bytes of the id pairs. Vectors attach AFTERWARDS inside
      // scoreBest by vec_id equi-joins; scoring is the fused `dot_prod`.
      val cand = ranked.filter(col("rn") <= 2).select(col("vec_id").as("id1"), col("cell"))
        .join(ranked.filter(col("rn") === 1).select(col("vec_id").as("id2"), col("cell")), "cell")
        .filter(col("id1") =!= col("id2")).select("id1", "id2")
      scoreBest(vecs(s, d), cand)
  }

  /** Every nested operating point's best answer and candidate count
    * per query from ONE groupBy(id1) over the largest candidate
    * surface, scored once: `scored` is (id1, id2, cos) plus the
    * columns the conditions read, and point i's candidates are the
    * rows where conds(i) holds. Its answer nn$i (the conditional
    * max(bestCand)) is NULL and its count c$i is 0 for a query with
    * no candidate at that point. */
  private def bestPerPoint(scored: DataFrame, conds: Seq[Column]): DataFrame = {
    val aggs = conds.zipWithIndex.flatMap { case (c, i) =>
      Seq(max(when(c, bestCand)).as(s"m$i"), count(when(c, 1)).as(s"c$i"))
    }
    scored.groupBy("id1").agg(aggs.head, aggs.tail: _*)
      .select(col("id1") +: conds.indices.flatMap(i =>
        Seq((-col(s"m$i.nid")).as(s"nn$i"), col(s"c$i"))): _*)
  }

  /** Grade operating points against the sampled truth in ONE pass —
    * the grading kernel of `ann_recall` and the three sweeps. Each
    * `answers` table holds per-query columns nn$i (point i's answer,
    * NULL when unanswered) and c$i (its candidate count); the truth
    * LEFT-joins each, one global aggregate grades every point, and an
    * explode of the per-point structs emits one row per key in `keys`
    * order. Columns: `keyName`, n_queries, n_answered, n_correct,
    * recall_at_1, n_candidates — callers select the ones they
    * declare. */
  private def gradePoints(truth: DataFrame, answers: Seq[DataFrame], keyName: String,
      keys: Seq[Column]): DataFrame = {
    val graded = keys.indices.flatMap { i =>
      val nn = col(s"nn$i")
      Seq(count(nn).as(s"a$i"),
        sum(when(nn === col("true_nn"), 1L).otherwise(0L)).as(s"k$i"),
        coalesce(sum(s"c$i"), lit(0L)).as(s"n$i"))
    }
    answers.foldLeft(truth)(_.join(_, Seq("id1"), "left"))
      .agg(count(lit(1)).as("n_queries"), graded: _*)
      .select(explode(array(keys.indices.map(i => struct(keys(i).as(keyName), col("n_queries"),
        col(s"a$i").as("n_answered"), col(s"k$i").as("n_correct"),
        round(col(s"k$i") / col("n_queries"), 6).as("recall_at_1"),
        col(s"n$i").as("n_candidates"))): _*)).as("p"))
      .select("p.*")
  }

  private lazy val recallEntry: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANN QUALITY as a first-class declared query (not a code
    // comment): recall@1 of each approximate operator against the
    // brute-force cosine truth — the number a user tuning
    // tables/bits/nprobe actually reads. truth(v) = argmax cos with
    // the same (ROUND(cos,6) DESC, id) ranking keys as the ANN
    // operators, so the comparison is drift-free; an LSH query with
    // no same-bucket candidate counts as answered=0 / correct=0
    // (LEFT join). Exact + both ANN pipelines are deterministic SQL,
    // so recall itself is oracle-checkable.
    "ann_recall" -> ((s, d) => {
      // Truth on a DETERMINISTIC 1-in-13 QUERY SAMPLE (vec_id % 13 = 0)
      // — the measurement discipline that survives scale: exact truth
      // for a sampled query set costs |Q|·n, not n², and recall
      // estimated on ~8% of queries has the same tuning value. The
      // sample is broadcast (it is tiny) and the corpus streams past
      // it once; argmax is a map-side-combinable max(struct(cos,-id))
      // — same (cos DESC, id ASC) ranking key as the window form and
      // the oracle's ROW_NUMBER, with no all-pairs shuffle anywhere.
      // Both memoized answer tables are graded in one pass. Each holds
      // at most one (id1, nn_id) row per query, so a query's candidate
      // count there is 1 (ann_recall does not declare n_candidates).
      val algos = Seq("ivf", "lsh")
      val answers = algos.zipWithIndex.map { case (a, i) =>
        annAnswer(s, d, a).select(col("id1"), col("nn_id").as(s"nn$i"), lit(1L).as(s"c$i"))
      }
      gradePoints(sampledTruth(s, d), answers, "algo", algos.map(a => lit(s"ann_${a}_topk")))
        .select("algo", "n_queries", "n_answered", "n_correct", "recall_at_1")
    }),

    // The IVF RECALL/COST CURVE as a declared query: recall@1 AND
    // scored-candidate volume at nprobe ∈ {1, 2, 4} against the same
    // sampled brute-force truth `ann_recall` uses — the table a user
    // actually reads to SET nprobe (the declared `ann_ivf_topk`
    // operating point is nprobe=2; this measures what moving the knob
    // buys and costs). Scale shape: the cell ranking is built once
    // (one checkpoint); the 1-in-13 QUERY SAMPLE probes its 4 nearest
    // cells in ONE cell equi-join that keeps each pair's probe rank
    // `pr`, and nprobe = np is the pairs with pr ≤ np. A query probes
    // a cell at most once and every vector sits in exactly one cell,
    // so each pair has one pr and is scored once for all three
    // points — cost |Q|·4·√n, never corpus-wide; truth is the same
    // broadcast-sample kernel as ann_recall. Candidate counts are
    // exact integers; recall is one division.
    "ann_nprobe_sweep" -> ((s, d) => {
      val nprobes = Seq(1, 2, maxProbe)
      val ranked = cellRankedCached(s, d)
      val probes = ranked.filter(col("rn") <= nprobes.max && col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("cell"), col("rn").as("pr"))
      val assigned = ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("id2"), col("cell"))
      val cand = probes.join(assigned, "cell")
        .filter(col("id1") =!= col("id2")).select("id1", "id2", "pr")
      gradePoints(sampledTruth(s, d),
          Seq(bestPerPoint(scorePairs(vecs(s, d), cand), nprobes.map(col("pr") <= _))),
          "nprobe", nprobes.map(np => lit(np.toLong)))
        .select("nprobe", "n_queries", "n_answered", "n_correct", "recall_at_1", "n_candidates")
    }),

    // The LSH TABLE-COUNT curve, symmetric with `ann_nprobe_sweep`:
    // recall@1 + distinct-candidate volume using the FIRST 1 / 3 / 5
    // of the banded signature tables (candidates(t) ⊆ candidates(t+1)
    // by construction, so the curve is monotone — spec-pinned). The
    // declared `ann_lsh_topk` operating point is all 5 tables; this
    // measures what each extra table buys and costs. Scale shape: the
    // signature table is built once (one map-side kernel pass,
    // checkpointed), the query side filters to the 1-in-13 sample
    // BEFORE the bucket equi-join, and ONE (t, sig)-keyed join over
    // all tables keeps each distinct pair's first shared table t0 —
    // the pair is a candidate with `tables` tables iff t0 < tables, so
    // it is scored once for all three points. Never corpus × corpus.
    "lsh_tables_sweep" -> ((s, d) => {
      val sig = lshSignaturesCached(s, d)
      val sigq = sig.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("t"), col("sig"))
      val sigAll = sig.select(col("vec_id").as("id2"), col("t"), col("sig"))
      val cand = sigq.join(sigAll, Seq("t", "sig"))
        .filter(col("id1") =!= col("id2"))
        .groupBy("id1", "id2").agg(min("t").as("t0"))
      val tables = Seq(1, 3, 5)
      gradePoints(sampledTruth(s, d),
          Seq(bestPerPoint(scorePairs(vecs(s, d), cand), tables.map(col("t0") < _))),
          "n_tables", tables.map(t => lit(t.toLong)))
        .select("n_tables", "n_queries", "n_answered", "n_correct", "recall_at_1", "n_candidates")
    }),

    // FILTERED vector search — the metadata-predicate ANN every
    // vector store serves ("nearest neighbor WHERE label = X"): each
    // sampled query probes its 2 nearest cells and candidates are
    // restricted to SAME-LABEL vectors before any scoring. The label
    // rides IN the shared cell-ranking postings (cellRanked carries
    // it — the production pre-filter layout: postings store their
    // filter metadata), so the predicate applies directly on the cell
    // equi-join's two sides with NO dim join at all; the former shape
    // force-broadcast a corpus-sized vec_id→label table onto each
    // side, which at 100 TB would OOM rather than degrade (round-7
    // advice). Post-filtering a scored result would instead pay the
    // full probe cost to then discard most of it. The pre-filter
    // strategy's known risk — a selective filter emptying the probed
    // cells — surfaces as a query with no output row, the honest
    // answer: queries with no same-label candidate in their probed
    // cells are absent by declared semantics.
    "ann_filtered_topk" -> ((s, d) => {
      val v = vecs(s, d)
      val ranked = cellRankedCached(s, d)
      val probes = ranked.filter(col("rn") <= 2 && col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("cell"), col("label").as("l1"))
      val assigned = ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("id2"), col("cell"), col("label").as("l2"))
      val cand = probes.join(assigned, "cell")
        .filter(col("id1") =!= col("id2") && col("l1") === col("l2"))
        .select("id1", "id2")
      scoreBest(v, cand).orderBy("id1")
    }),

    // IVF index SKEW audit — the partition-balance question every
    // cell-based ANN layout answers before shipping: per-cell
    // assignment sizes summarized as min/max, the imbalance factor
    // (max·cells/n — 1e6 ppm = perfectly even; a hot cell is a
    // straggler task AND a recall sink), and Σ|cell|² — the standard
    // within-cell join-cost driver (`semdedup_embedding`'s actual
    // candidate count is the ordered-pair half, Σ sz(sz−1)/2; both
    // scale identically and this audit exists to bound them). All
    // exact integer arithmetic off one hash agg over the
    // shared cell-ranking subplan; output is a one-row contract.
    "ivf_cell_balance" -> ((s, d) => {
      val sizes = cellRankedCached(s, d).filter(col("rn") === 1)
        .groupBy("cell").agg(count(lit(1)).as("sz"))
      sizes.agg(sum("sz").as("n_vecs"), count(lit(1)).as("n_cells"),
          min("sz").as("min_sz"), max("sz").as("max_sz"),
          sum(col("sz") * col("sz")).as("cost_pairs"))
        .select(col("n_vecs"), col("n_cells"), col("min_sz"), col("max_sz"),
          expr("max_sz * n_cells * 1000000 div n_vecs").as("imbalance_ppm"),
          col("cost_pairs"))
    }),

    // Scalar-quantized (int8) ANN with exact RESCORE — the
    // memory-bandwidth scale path the float ANN operators don't
    // cover: codes are 4× smaller than float32 (the index that fits
    // in RAM at 100 TB), the coarse pass ranks candidates by
    // integer dot products over the codes, and only the top
    // `rescore_k` survivors pay a full-precision cosine. Declared as
    // the rescore-depth CURVE (the nprobe/tables-sweep discipline):
    // recall@1 vs the sampled brute-force truth at k ∈ {1, 4, 16} —
    // k=1 is raw int8 argmax, k=16 recovers near-exact recall; the
    // table prices the quantization error a rescore must absorb.
    // Determinism: per-vector symmetric int8 quantization is
    // `embedding_quantize`'s proven formula; code dot products are
    // 64-term sums of integer-valued doubles ≤ 127² — EXACT in any
    // summation order (< 2^53), so the coarse ranking key is
    // drift-free by construction and only the final cosine carries
    // the accepted ROUND(·,6) discipline. Scale shape: the sampled
    // query side broadcasts, codes stream past once (|Q|·n integer
    // kernel — at production scale this coarse scan is the SIMD/
    // memory-bound pass an SQ index exists for), shortlist is a
    // per-query window, rescore touches 16·|Q| vectors.
    "ann_sq_rescore_sweep" -> ((s, d) => {
      val v = vecs(s, d)
      // the scale fold and the per-element quantization run as the
      // codegen'd abs_max / quantize_i8 kernels (the coarse pass is
      // the memory-bound scan an SQ index exists for — an interpreted
      // per-element lambda there defeats its own purpose)
      val qv = v.select(col("vec_id"), col("nrm"),
          col("f"), expr("abs_max(f)").as("scale"))
        .withColumn("sc", when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")))
        .withColumn("q", expr("quantize_i8(f, sc)"))
      val qq = qv.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id1"), col("q").as("q1"), col("sc").as("s1"),
          col("nrm").as("n1"))
      val qc = qv.select(col("vec_id").as("id2"), col("q").as("q2"),
        col("sc").as("s2"), col("nrm").as("n2"))
      val coarse = broadcast(qq).crossJoin(qc)
        .filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"),
          when(col("n1") * col("n2") > 0, round(ArrayMath.dotNative(col("q1"), col("q2")) * col("s1") * col("s2")
            / (lit(127.0 * 127.0) * col("n1") * col("n2")), 6)).as("qcos"))
      val wq = Window.partitionBy("id1").orderBy(desc("qcos"), col("id2"))
      val depths = Seq(1, 4, 16)
      // the 16-deep shortlist + exact rescore is one measured checkpoint,
      // so the graded plan reads only this (|Q|·16)-row table and the
      // truth checkpoint; rescore depth k is the rows with qr ≤ k
      val rescored = MeasuredCheckpoint(scorePairs(v, coarse.withColumn("qr", row_number().over(wq))
        .filter(col("qr") <= depths.max).select("id1", "id2", "qr")))
      gradePoints(sampledTruth(s, d), Seq(bestPerPoint(rescored, depths.map(col("qr") <= _))),
          "rescore_k", depths.map(k => lit(k.toLong)))
        .select("rescore_k", "n_queries", "n_correct", "recall_at_1")
    }),
  )

  /** Shared oracle CTEs: exploded double vectors + norms. */
  private val PT =
    """pt AS (SELECT vec_id, label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
      |nrm AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM pt GROUP BY 1)""".stripMargin

  private val COSPAIRS =
    """dots AS (SELECT a.vec_id AS id1, b.vec_id AS id2, SUM(a.v * b.v) AS dot
      |  FROM pt a JOIN pt b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |cosp AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
      |  FROM dots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2)""".stripMargin

  /** Index-granularity CTEs mirroring lshBits / ivfK / seed stride —
    * the same integer shift/square inequalities, so no float-log
    * boundary can diverge across engines. */
  private val GRAIN =
    """nv AS (SELECT COUNT(*) AS n FROM embeddings),
      |bb AS (SELECT MIN(g.b) AS bits FROM nv,
      |  UNNEST(generate_series(3, 20)) AS g(b)
      |  WHERE (64::BIGINT << g.b) >= nv.n),
      |sk AS (SELECT nv.n, GREATEST(1, nv.n // kk.k) AS stride FROM nv,
      |  (SELECT MIN(g.k) AS k FROM nv,
      |     UNNEST(generate_series(1, 100000)) AS g(k)
      |   WHERE g.k * g.k >= nv.n) kk)""".stripMargin

  /** LSH signature CTEs (multi-table banding at bb.bits per table). */
  private val LSHSIG =
    """w AS (SELECT u.i AS i, v.j AS j,
      |  ((u.i * 73 + 19) * (v.j * 31 + 7) + u.i * v.j * v.j + u.i * u.i) % 13 - 6 AS wt
      |  FROM UNNEST(generate_series(1, 64)) AS u(i), bb,
      |       UNNEST(generate_series(0, 5 * bb.bits - 1)) AS v(j)),
      |proj AS (SELECT pt.vec_id, w.j, SUM(pt.v * w.wt) AS proj
      |  FROM pt JOIN w ON pt.i = w.i GROUP BY 1, 2),
      |sig AS (SELECT vec_id, j // bb.bits AS t,
      |  CAST(SUM(CASE WHEN ROUND(proj, 6) > 0 THEN POWER(2, j % bb.bits) ELSE 0 END) AS BIGINT) AS sig
      |  FROM proj, bb GROUP BY 1, 2)""".stripMargin

  /** IVF seed-cell CTEs: cells = stride-sampled seed vectors, every
    * vector ranked against every cell by ROUND-6 squared distance. */
  private val IVFCELLS =
    """cent AS (SELECT pt.vec_id AS cell, pt.i, pt.v AS c
      |  FROM pt, sk WHERE pt.vec_id % sk.stride = 0),
      |cd2 AS (SELECT pt.vec_id, cent.cell,
      |  ROUND(SUM((pt.v - cent.c) * (pt.v - cent.c)), 6) AS d2
      |  FROM pt JOIN cent ON pt.i = cent.i GROUP BY 1, 2),
      |crk AS (SELECT vec_id, cell,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |  FROM cd2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "cosine_topk" ->
      s"""WITH $PT,
         |$COSPAIRS
         |SELECT id1, id2, cos FROM cosp
         |ORDER BY cos DESC, id1, id2 LIMIT 100""".stripMargin,

    "knn_per_vector" ->
      s"""WITH $PT,
         |d2 AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |  ROUND(SQRT(SUM((a.v - b.v) * (a.v - b.v))), 6) AS dist
         |  FROM pt a JOIN pt b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT id1, id2, dist,
         |  ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY dist, id2) AS rank
         |  FROM d2)
         |SELECT id1, rank, id2, dist FROM r WHERE rank <= 5
         |ORDER BY id1, rank""".stripMargin,

    "embedding_norm_stats" ->
      s"""WITH $PT
         |SELECT label, COUNT(*) AS n, ROUND(AVG(nrm), 6) AS mean_norm,
         |  ROUND(MIN(nrm), 6) AS min_norm, ROUND(MAX(nrm), 6) AS max_norm
         |FROM (SELECT DISTINCT pt.vec_id, pt.label, nrm.nrm
         |  FROM pt JOIN nrm ON pt.vec_id = nrm.vec_id)
         |GROUP BY label ORDER BY label""".stripMargin,

    "embedding_dim_stats" ->
      s"""WITH $PT
         |SELECT i AS dim, ROUND(AVG(v), 6) AS mean_x,
         |  ROUND(STDDEV_SAMP(v), 6) AS sd_x,
         |  ROUND(MIN(v), 6) AS min_x, ROUND(MAX(v), 6) AS max_x
         |FROM pt GROUP BY i ORDER BY dim""".stripMargin,

    "incremental_ann_upsert" ->
      s"""WITH $PT,
         |q AS (SELECT vec_id, label, i,
         |    CAST(FLOOR(v * 1000000.0) AS BIGINT) AS xi FROM pt),
         |cent AS (SELECT label AS cell, i, CAST(SUM(xi) AS BIGINT) AS sm,
         |    COUNT(*) AS n FROM q WHERE vec_id % 10 <> 7 GROUP BY label, i),
         |d2 AS (SELECT p.vec_id, c.cell,
         |    SUM(CAST(p.xi * c.n - c.sm AS DECIMAL(19,0))
         |      * CAST(p.xi * c.n - c.sm AS DECIMAL(19,0))) AS d2s,
         |    MAX(c.n) AS n
         |  FROM q p JOIN cent c ON p.i = c.i
         |  WHERE p.vec_id % 10 = 7 GROUP BY p.vec_id, c.cell),
         |a AS (SELECT vec_id, cell,
         |    CAST(d2s AS DOUBLE) / CAST(n * n AS DOUBLE) / 1000000000000.0 AS dv,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
         |      CAST(d2s AS DOUBLE) / CAST(n * n AS DOUBLE) / 1000000000000.0,
         |      cell) AS rn
         |  FROM d2)
         |SELECT cell, COUNT(*) AS n_new,
         |  CAST(SUM(CAST(FLOOR(dv * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_d2_ppm
         |FROM a WHERE rn = 1 GROUP BY cell ORDER BY cell""".stripMargin,

    "embedding_centroid_shift" ->
      s"""WITH $PT
         |SELECT label, i AS dim,
         |  CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  ROUND(AVG(CASE WHEN vec_id % 2 = 0 THEN v END)
         |    - AVG(CASE WHEN vec_id % 2 = 1 THEN v END), 6) AS shift
         |FROM pt GROUP BY label, i ORDER BY label, dim""".stripMargin,

    "embedding_project" ->
      s"""WITH $PT,
         |dims AS (SELECT DISTINCT i FROM pt),
         |proj AS (SELECT dims.i, js.j,
         |  CASE WHEN CAST(SUM((strpos('0123456789abcdef',
         |      substr(md5('rp' || CAST(dims.i AS VARCHAR) || '_'
         |        || CAST(js.j AS VARCHAR)), u.d, 1)) - 1)
         |      * CAST(POWER(16, 8 - u.d) AS BIGINT)) AS BIGINT) % 2 = 0
         |    THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM dims, UNNEST(generate_series(1, 8)) AS js(j),
         |    UNNEST(generate_series(1, 8)) AS u(d)
         |  GROUP BY dims.i, js.j)
         |SELECT pt.vec_id, p.j, ROUND(SUM(pt.v * p.sgn) / sqrt(8), 6) AS comp
         |FROM pt JOIN proj p ON p.i = pt.i
         |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH $PT,
         |$GRAIN,
         |$IVFCELLS,
         |probes AS (SELECT vec_id AS id1, cell FROM crk WHERE rn <= 2),
         |assigned AS (SELECT vec_id AS id2, cell FROM crk WHERE rn = 1),
         |cand AS (SELECT id1, id2 FROM probes JOIN assigned USING (cell)
         |  WHERE id1 <> id2),
         |dots AS (SELECT c.id1, c.id2, SUM(a.v * b.v) AS dot
         |  FROM cand c JOIN pt a ON a.vec_id = c.id1
         |  JOIN pt b ON b.vec_id = c.id2 AND b.i = a.i
         |  GROUP BY 1, 2),
         |cosp AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
         |  FROM dots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2),
         |r AS (SELECT id1, id2, cos,
         |  ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM cosp)
         |SELECT id1, id2 AS nn_id, cos FROM r WHERE rn = 1 ORDER BY id1""".stripMargin,

    "embedding_cosine_dedup" ->
      s"""WITH $PT,
         |$COSPAIRS
         |SELECT id1, id2, cos FROM cosp WHERE cos >= 0.3
         |ORDER BY id1, id2""".stripMargin,

    "semdedup_embedding" ->
      s"""WITH $PT,
         |$GRAIN,
         |$IVFCELLS,
         |asg AS (SELECT vec_id, cell FROM crk WHERE rn = 1),
         |cand AS (SELECT a.cell, a.vec_id AS id1, b.vec_id AS id2
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dots AS (SELECT c.cell, c.id1, c.id2, SUM(x.v * y.v) AS dot
         |  FROM cand c JOIN pt x ON x.vec_id = c.id1
         |  JOIN pt y ON y.vec_id = c.id2 AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |dup AS (SELECT cell, id1, id2
         |  FROM (SELECT cell, id1, id2,
         |    ROUND(dot / (n1.nrm * n2.nrm), 6) AS cos
         |    FROM dots JOIN nrm n1 ON n1.vec_id = id1
         |    JOIN nrm n2 ON n2.vec_id = id2)
         |  WHERE cos >= 0.3),
         |drp AS (SELECT cell, id2 FROM dup GROUP BY 1, 2)
         |SELECT g.cell, g.n_vecs,
         |  COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
         |  COALESCE(dr.n_dropped, 0) AS n_dropped
         |FROM (SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY 1) g
         |LEFT JOIN (SELECT cell, COUNT(*) AS n_dup_pairs FROM dup GROUP BY 1) p
         |  USING (cell)
         |LEFT JOIN (SELECT cell, COUNT(*) AS n_dropped FROM drp GROUP BY 1) dr
         |  USING (cell)
         |ORDER BY g.cell""".stripMargin,

    "label_centroid_topk" ->
      s"""WITH $PT,
         |c AS (SELECT label, i, AVG(v) AS mu FROM pt GROUP BY 1, 2),
         |d AS (SELECT pt.vec_id, pt.label, SUM((v - mu) * (v - mu)) AS d2
         |  FROM pt JOIN c ON c.label = pt.label AND c.i = pt.i
         |  GROUP BY 1, 2),
         |r AS (SELECT vec_id, label, d2, ROW_NUMBER() OVER (
         |    PARTITION BY label ORDER BY ROUND(d2, 6), vec_id) AS rn FROM d)
         |SELECT label, vec_id, ROUND(d2, 6) AS d2, rn FROM r
         |WHERE rn <= 5 ORDER BY label, rn""".stripMargin,

    "embedding_standardize" ->
      s"""WITH $PT,
         |st AS (SELECT i, AVG(v) AS mu, STDDEV_SAMP(v) AS sd
         |  FROM pt GROUP BY 1)
         |SELECT pt.vec_id, pt.i AS dim,
         |  ROUND((v - mu) / NULLIF(sd, 0), 6) AS z
         |FROM pt JOIN st USING (i) WHERE vec_id < 100
         |ORDER BY vec_id, dim""".stripMargin,

    "embedding_quantize" ->
      s"""WITH $PT,
         |sc AS (SELECT vec_id, MAX(ABS(v)) AS scale,
         |  CASE WHEN MAX(ABS(v)) = 0 THEN 1 ELSE MAX(ABS(v)) END AS scq
         |  FROM pt GROUP BY 1),
         |e AS (SELECT pt.vec_id, sc.scale,
         |  (v - ROUND(v * 127 / scq, 0) * scq / 127)
         |    * (v - ROUND(v * 127 / scq, 0) * scq / 127) AS se
         |  FROM pt JOIN sc ON pt.vec_id = sc.vec_id)
         |SELECT vec_id, ROUND(scale, 6) AS scale,
         |  ROUND(SUM(se) / COUNT(se), 6) AS mse
         |FROM e GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH $PT,
         |$GRAIN,
         |$LSHSIG,
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig
         |    AND a.vec_id <> b.vec_id),
         |dots AS (SELECT c.id1, c.id2, SUM(a.v * b.v) AS dot
         |  FROM cand c JOIN pt a ON a.vec_id = c.id1
         |  JOIN pt b ON b.vec_id = c.id2 AND b.i = a.i
         |  GROUP BY 1, 2),
         |cosp AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
         |  FROM dots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2),
         |r AS (SELECT id1, id2, cos,
         |  ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM cosp)
         |SELECT id1, id2 AS nn_id, cos FROM r WHERE rn = 1 ORDER BY id1""".stripMargin,

    // recall@1: compose the brute-force truth with BOTH ANN pipelines
    // (CTEs renamed l*/i* to avoid clashing with the shared cosp)
    "ann_recall" ->
      s"""WITH $PT,
         |$GRAIN,
         |$COSPAIRS,
         |sym AS (SELECT id1, id2, cos FROM cosp
         |  UNION ALL SELECT id2, id1, cos FROM cosp),
         |truth AS (SELECT id1, id2 AS true_nn FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM sym WHERE id1 % 13 = 0) WHERE rn = 1),
         |$LSHSIG,
         |lcand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig
         |    AND a.vec_id <> b.vec_id),
         |ldots AS (SELECT c.id1, c.id2, SUM(a.v * b.v) AS dot
         |  FROM lcand c JOIN pt a ON a.vec_id = c.id1
         |  JOIN pt b ON b.vec_id = c.id2 AND b.i = a.i
         |  GROUP BY 1, 2),
         |lcos AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
         |  FROM ldots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2),
         |lsh_ans AS (SELECT id1, id2 AS nn_id FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM lcos) WHERE rn = 1),
         |$IVFCELLS,
         |probes AS (SELECT vec_id AS id1, cell FROM crk WHERE rn <= 2),
         |assigned AS (SELECT vec_id AS id2, cell FROM crk WHERE rn = 1),
         |icand AS (SELECT id1, id2 FROM probes JOIN assigned USING (cell)
         |  WHERE id1 <> id2),
         |idots AS (SELECT c.id1, c.id2, SUM(a.v * b.v) AS dot
         |  FROM icand c JOIN pt a ON a.vec_id = c.id1
         |  JOIN pt b ON b.vec_id = c.id2 AND b.i = a.i
         |  GROUP BY 1, 2),
         |icos AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
         |  FROM idots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2),
         |ivf_ans AS (SELECT id1, id2 AS nn_id FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM icos) WHERE rn = 1)
         |SELECT 'ann_lsh_topk' AS algo, COUNT(*) AS n_queries,
         |  COUNT(nn_id) AS n_answered,
         |  CAST(SUM(CASE WHEN nn_id = true_nn THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN nn_id = true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*), 6) AS recall_at_1
         |FROM truth LEFT JOIN lsh_ans USING (id1)
         |UNION ALL
         |SELECT 'ann_ivf_topk' AS algo, COUNT(*) AS n_queries,
         |  COUNT(nn_id) AS n_answered,
         |  CAST(SUM(CASE WHEN nn_id = true_nn THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN nn_id = true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*), 6) AS recall_at_1
         |FROM truth LEFT JOIN ivf_ans USING (id1)
         |ORDER BY algo""".stripMargin,

    "ann_nprobe_sweep" ->
      s"""WITH $PT,
         |$GRAIN,
         |$COSPAIRS,
         |sym AS (SELECT id1, id2, cos FROM cosp
         |  UNION ALL SELECT id2, id1, cos FROM cosp),
         |truth AS (SELECT id1, id2 AS true_nn FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM sym WHERE id1 % 13 = 0) WHERE rn = 1),
         |$IVFCELLS,
         |asg AS (SELECT vec_id AS id2, cell FROM crk WHERE rn = 1),
         |np AS (SELECT CAST(u.np AS BIGINT) AS nprobe FROM UNNEST([1, 2, 4]) AS u(np)),
         |ncand AS (SELECT np.nprobe, p.vec_id AS id1, a.id2
         |  FROM np CROSS JOIN crk p JOIN asg a ON p.cell = a.cell
         |  WHERE p.rn <= np.nprobe AND p.vec_id % 13 = 0 AND p.vec_id <> a.id2),
         |ndots AS (SELECT c.nprobe, c.id1, c.id2, SUM(x.v * y.v) AS dot
         |  FROM ncand c JOIN pt x ON x.vec_id = c.id1
         |  JOIN pt y ON y.vec_id = c.id2 AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |cosn AS (SELECT nprobe, id1, id2, ROUND(dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM ndots JOIN nrm n1 ON n1.vec_id = id1 JOIN nrm n2 ON n2.vec_id = id2),
         |ans AS (SELECT nprobe, id1, id2 AS nn_id, cands FROM (
         |    SELECT nprobe, id1, id2,
         |      ROW_NUMBER() OVER (PARTITION BY nprobe, id1 ORDER BY cos DESC, id2) AS rn,
         |      COUNT(*) OVER (PARTITION BY nprobe, id1) AS cands
         |    FROM cosn) WHERE rn = 1),
         |meas AS (SELECT np.nprobe, COUNT(*) AS n_queries, COUNT(a.nn_id) AS n_answered,
         |  CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*), 6) AS recall_at_1,
         |  CAST(COALESCE(SUM(a.cands), 0) AS BIGINT) AS n_candidates
         |FROM np CROSS JOIN truth t
         |LEFT JOIN ans a ON a.nprobe = np.nprobe AND a.id1 = t.id1
         |GROUP BY np.nprobe)
         |SELECT np.nprobe, CAST(COALESCE(m.n_queries, 0) AS BIGINT) AS n_queries,
         |  CAST(COALESCE(m.n_answered, 0) AS BIGINT) AS n_answered,
         |  m.n_correct, m.recall_at_1,
         |  CAST(COALESCE(m.n_candidates, 0) AS BIGINT) AS n_candidates
         |FROM np LEFT JOIN meas m ON m.nprobe = np.nprobe
         |ORDER BY np.nprobe""".stripMargin,

    "lsh_tables_sweep" ->
      s"""WITH $PT,
         |$GRAIN,
         |$COSPAIRS,
         |sym AS (SELECT id1, id2, cos FROM cosp
         |  UNION ALL SELECT id2, id1, cos FROM cosp),
         |truth AS (SELECT id1, id2 AS true_nn FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM sym WHERE id1 % 13 = 0) WHERE rn = 1),
         |$LSHSIG,
         |tb AS (SELECT CAST(u.t AS BIGINT) AS n_tables FROM UNNEST([1, 3, 5]) AS u(t)),
         |tcand AS (SELECT DISTINCT tb.n_tables, a.vec_id AS id1, b.vec_id AS id2
         |  FROM tb CROSS JOIN sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig
         |  WHERE a.t < tb.n_tables AND b.t < tb.n_tables
         |    AND a.vec_id % 13 = 0 AND a.vec_id <> b.vec_id),
         |tdots AS (SELECT c.n_tables, c.id1, c.id2, SUM(x.v * y.v) AS dot
         |  FROM tcand c JOIN pt x ON x.vec_id = c.id1
         |  JOIN pt y ON y.vec_id = c.id2 AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |tcos AS (SELECT n_tables, id1, id2, ROUND(dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM tdots JOIN nrm n1 ON n1.vec_id = id1 JOIN nrm n2 ON n2.vec_id = id2),
         |tans AS (SELECT n_tables, id1, id2 AS nn_id, cands FROM (
         |    SELECT n_tables, id1, id2,
         |      ROW_NUMBER() OVER (PARTITION BY n_tables, id1 ORDER BY cos DESC, id2) AS rn,
         |      COUNT(*) OVER (PARTITION BY n_tables, id1) AS cands
         |    FROM tcos) WHERE rn = 1),
         |meas AS (SELECT tb.n_tables, COUNT(*) AS n_queries, COUNT(a.nn_id) AS n_answered,
         |  CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*), 6) AS recall_at_1,
         |  CAST(COALESCE(SUM(a.cands), 0) AS BIGINT) AS n_candidates
         |FROM tb CROSS JOIN truth t
         |LEFT JOIN tans a ON a.n_tables = tb.n_tables AND a.id1 = t.id1
         |GROUP BY tb.n_tables)
         |SELECT tb.n_tables, CAST(COALESCE(m.n_queries, 0) AS BIGINT) AS n_queries,
         |  CAST(COALESCE(m.n_answered, 0) AS BIGINT) AS n_answered,
         |  m.n_correct, m.recall_at_1,
         |  CAST(COALESCE(m.n_candidates, 0) AS BIGINT) AS n_candidates
         |FROM tb LEFT JOIN meas m ON m.n_tables = tb.n_tables
         |ORDER BY tb.n_tables""".stripMargin,

    "ann_filtered_topk" ->
      s"""WITH $PT,
         |$GRAIN,
         |$IVFCELLS,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |probes AS (SELECT crk.vec_id AS id1, crk.cell, lb.label AS l1
         |  FROM crk JOIN lb ON lb.vec_id = crk.vec_id
         |  WHERE crk.rn <= 2 AND crk.vec_id % 13 = 0),
         |assigned AS (SELECT crk.vec_id AS id2, crk.cell, lb.label AS l2
         |  FROM crk JOIN lb ON lb.vec_id = crk.vec_id WHERE crk.rn = 1),
         |cand AS (SELECT id1, id2 FROM probes JOIN assigned USING (cell)
         |  WHERE id1 <> id2 AND l1 = l2),
         |dots AS (SELECT c.id1, c.id2, SUM(a.v * b.v) AS dot
         |  FROM cand c JOIN pt a ON a.vec_id = c.id1
         |  JOIN pt b ON b.vec_id = c.id2 AND b.i = a.i
         |  GROUP BY 1, 2),
         |cosp AS (SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
         |  FROM dots JOIN nrm x ON x.vec_id = id1 JOIN nrm y ON y.vec_id = id2),
         |r AS (SELECT id1, id2, cos,
         |  ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM cosp)
         |SELECT id1, id2 AS nn_id, cos FROM r WHERE rn = 1 ORDER BY id1""".stripMargin,

    "ivf_cell_balance" ->
      s"""WITH $PT,
         |$GRAIN,
         |$IVFCELLS,
         |asg AS (SELECT vec_id, cell FROM crk WHERE rn = 1),
         |sz AS (SELECT cell, COUNT(*) AS sz FROM asg GROUP BY 1)
         |SELECT CAST(SUM(sz) AS BIGINT) AS n_vecs, COUNT(*) AS n_cells,
         |  CAST(MIN(sz) AS BIGINT) AS min_sz, CAST(MAX(sz) AS BIGINT) AS max_sz,
         |  (CAST(MAX(sz) AS BIGINT) * COUNT(*) * 1000000)
         |    // CAST(SUM(sz) AS BIGINT) AS imbalance_ppm,
         |  CAST(SUM(sz * sz) AS BIGINT) AS cost_pairs
         |FROM sz""".stripMargin,

    "ann_sq_rescore_sweep" ->
      s"""WITH $PT,
         |$COSPAIRS,
         |sym AS (SELECT id1, id2, cos FROM cosp
         |  UNION ALL SELECT id2, id1, cos FROM cosp),
         |truth AS (SELECT id1, id2 AS true_nn FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rn
         |  FROM sym WHERE id1 % 13 = 0) WHERE rn = 1),
         |sc AS (SELECT vec_id,
         |  CASE WHEN MAX(ABS(v)) = 0 THEN 1 ELSE MAX(ABS(v)) END AS scq
         |  FROM pt GROUP BY 1),
         |qt AS (SELECT pt.vec_id, pt.i, ROUND(pt.v * 127 / sc.scq, 0) AS q
         |  FROM pt JOIN sc USING (vec_id)),
         |qd AS (SELECT a.vec_id AS id1, b.vec_id AS id2, SUM(a.q * b.q) AS qdot
         |  FROM qt a JOIN qt b ON a.i = b.i
         |    AND a.vec_id % 13 = 0 AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |qc AS (SELECT id1, id2,
         |  ROUND(qdot * s1.scq * s2.scq / (16129.0 * n1.nrm * n2.nrm), 6) AS qcos
         |  FROM qd JOIN sc s1 ON s1.vec_id = id1 JOIN sc s2 ON s2.vec_id = id2
         |  JOIN nrm n1 ON n1.vec_id = id1 JOIN nrm n2 ON n2.vec_id = id2),
         |shortl AS (SELECT id1, id2, qr FROM (
         |  SELECT id1, id2,
         |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY qcos DESC, id2) AS qr
         |  FROM qc) WHERE qr <= 16),
         |rdots AS (SELECT sh.id1, sh.id2, sh.qr, SUM(x.v * y.v) AS dot
         |  FROM shortl sh JOIN pt x ON x.vec_id = sh.id1
         |  JOIN pt y ON y.vec_id = sh.id2 AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |rcos AS (SELECT id1, id2, qr, ROUND(dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM rdots JOIN nrm n1 ON n1.vec_id = id1
         |  JOIN nrm n2 ON n2.vec_id = id2),
         |ks AS (SELECT CAST(u.k AS BIGINT) AS rescore_k FROM UNNEST([1, 4, 16]) AS u(k)),
         |ans AS (SELECT rescore_k, id1, id2 AS nn_id FROM (
         |    SELECT ks.rescore_k, r.id1, r.id2,
         |      ROW_NUMBER() OVER (PARTITION BY ks.rescore_k, r.id1
         |        ORDER BY r.cos DESC, r.id2) AS rn
         |    FROM ks CROSS JOIN rcos r WHERE r.qr <= ks.rescore_k)
         |  WHERE rn = 1),
         |meas AS (SELECT ks.rescore_k, COUNT(*) AS n_queries,
         |  CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN a.nn_id = t.true_nn THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*), 6) AS recall_at_1
         |FROM ks CROSS JOIN truth t
         |LEFT JOIN ans a ON a.rescore_k = ks.rescore_k AND a.id1 = t.id1
         |GROUP BY ks.rescore_k)
         |SELECT ks.rescore_k, CAST(COALESCE(m.n_queries, 0) AS BIGINT) AS n_queries,
         |  m.n_correct, m.recall_at_1
         |FROM ks LEFT JOIN meas m ON m.rescore_k = ks.rescore_k
         |ORDER BY ks.rescore_k""".stripMargin,
  // every Similarity query flows through vecs() = cleanVectors, so
  // every oracle sees the identically-gated embeddings CTE
  ).view.mapValues(graft.engine.Tables.gateEmbeddingsSql).toMap
}
