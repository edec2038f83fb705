package graft

import org.apache.spark.sql.functions._
import graft.engine.text.TextOps

/** Pins the hot-bucket cap in MinHash pair generation
  * (TextOps.minhashPairs, conf `graft.neardedup.bucketCap`):
  *
  *  1. EMISSION BOUND — a bucket of n docs emits exactly
  *     Σᵢ min(cap, n−1−i) pairs per band (≤ n·cap, linear in bucket
  *     size), pinned with exact counts on a synthetic corpus whose
  *     bucket structure is known by construction (identical texts ⇒
  *     identical signatures ⇒ one full bucket per band).
  *  2. GROUP INVARIANCE — connected components over the capped pair
  *     graph equal components over the full one for ANY cap ≥ 1,
  *     because the per-position successor window always keeps the
  *     consecutive pairs (rank distance 1) and a sorted bucket's
  *     consecutive chain spans it. Pinned by resolving groups on the
  *     sf0.001 fixture with the cap forced to 2 and comparing
  *     bit-for-bit against the uncapped resolution.
  *  3. DEFAULT INERTNESS — the default cap (4096) exceeds every
  *     fixture bucket, so the declared pair surface is unchanged from
  *     the uncapped semantics (and the DuckDB oracles, which mirror
  *     the same ROW_NUMBER window, agree with either reading).
  *  4. SPILL SAFETY — the successor list is a window frame of at most
  *     `cap` rows over a spillable buffer; forcing that buffer to disk
  *     on a 200-doc hot bucket leaves the surface unchanged.
  */
class MinhashCapSpec extends SparkSpec {

  /** Synthetic corpus: `nDup` docs sharing one text (one hot bucket
    * per band) + 3 docs with disjoint token sets (isolated). */
  private def writeHotBucketCorpus(nDup: Int): String = {
    import spark.implicits._
    val dir = graft.engine.TempDirs.scratch("graft-capspec")
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val docs =
      (0L until nDup.toLong).map(i => (i, dupText, "en", "web", dupText.length.toLong)) ++
      Seq((nDup + 0L, "alpha bravo charlie delta echo", "en", "web", 30L),
          (nDup + 1L, "foxtrot golf hotel india juliett", "en", "web", 32L),
          (nDup + 2L, "kilo lima mike november oscar papa", "en", "web", 34L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Σᵢ₌₀ⁿ⁻¹ min(cap, n−1−i): capped suffix-pair count of one bucket. */
  private def cappedBucketPairs(n: Int, cap: Int): Long =
    (0 until n).map(i => math.min(cap, n - 1 - i).toLong).sum

  test("capped bucket emits exactly sum-of-min(cap, suffix) pairs per band, all adjacent ranks kept") {
    val dir = writeHotBucketCorpus(nDup = 30)
    val cap = 4
    withConf("graft.neardedup.bucketCap", cap.toString) {
      // DUP-FREE generation: both bands hold the SAME single hot
      // bucket (identical signatures, identical sorted order), so
      // band 1's emissions are entirely suppressed by the cross-band
      // filter and the list is exactly the one-band windowed count —
      // with all counts 1 (no band-dup rows exist anymore)
      val raw = TextOps.minhashPairs(spark, dir)
      assert(raw.count() === cappedBucketPairs(30, cap))
      val maxDup = raw.groupBy("d1", "d2").agg(count(lit(1)).as("n"))
        .agg(max("n")).head.getLong(0)
      assert(maxDup === 1L, s"dup-free generation emitted a pair twice")
      // emission bound per position: no doc pairs with more than cap
      // successors
      val maxFan = raw.groupBy("d1").agg(count(lit(1)).as("n"))
        .agg(max("n")).head.getLong(0)
      assert(maxFan <= cap.toLong)
      // connectivity invariant: every consecutive pair of the sorted
      // bucket survives the window ⇒ all 30 dup docs in ONE group
      val grp = TextOps.resolveGroups(spark, dir, maxEdges = 1000000L)
      val groups = grp.groupBy("group_id").agg(count(lit(1)).as("sz")).collect()
      assert(groups.length === 1 && groups.head.getLong(1) === 30L)
    }
  }

  test("uncapped count sanity on the same corpus: C(n,2) distinct pairs") {
    val dir = writeHotBucketCorpus(nDup = 30)
    withConf("graft.neardedup.bucketCap", "1000000") {
      assert(TextOps.minhashPairs(spark, dir).count() === 30L * 29 / 2)
    }
  }

  test("groups are invariant under a forced tiny cap on the sf0.001 fixture") {
    val base = TextOps.resolveGroups(spark, sf0001, maxEdges = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = withConf("graft.neardedup.bucketCap", "2") {
      TextOps.resolveGroups(spark, sf0001, maxEdges = 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(capped === base)
  }

  test("binding cap ≡ the oracle's ROW_NUMBER window form, pair-for-pair (sf0.001, cap=8)") {
    // The DuckDB oracles express the cap as a rank-distance window
    // (ROW_NUMBER per (band, bsig) bucket, b.rn - a.rn BETWEEN 1 AND
    // cap). The engine uses a 1..cap row frame. This pins the two
    // DEFINITIONS against each other with the cap genuinely BINDING
    // (cap=8 < fixture bucket sizes) — the driver's oracle gate only
    // exercises the inert default, so without this the mirrored SQL
    // semantics would be tested nowhere.
    import org.apache.spark.sql.expressions.Window
    val cap = 8
    val engine = withConf("graft.neardedup.bucketCap", cap.toString) {
      TextOps.minhashPairs(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // independent reference: rebuild bands from the shared signature
    // table exactly as minhashPairs does, then apply the window JOIN
    val sig = TextOps.minhashSignatures(spark, sf0001)
    def chain(idxs: Range) =
      idxs.map(i => col(s"m$i")).reduceLeft((a, b) => a * 31 + b)
    val bands = (0 until 2).map { b =>
        sig.select(col("doc_id"), lit(b.toLong).as("band"),
          chain(b * 4 until (b + 1) * 4).as("bsig"))
      }.reduce(_ union _)
    val rb = bands.withColumn("rn", row_number().over(
      Window.partitionBy("band", "bsig").orderBy("doc_id")))
    val ref = rb.select(col("band"), col("bsig"), col("doc_id").as("d1"), col("rn").as("r1"))
      .join(rb.select(col("band"), col("bsig"), col("doc_id").as("d2"), col("rn").as("r2")),
        Seq("band", "bsig"))
      .filter(col("r2") - col("r1") >= 1 && col("r2") - col("r1") <= cap)
      .select("d1", "d2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engine === ref,
      s"successor-frame cap diverges from the ROW_NUMBER window: " +
        s"only-engine=${(engine -- ref).take(5)} only-ref=${(ref -- engine).take(5)}")
    assert(engine.nonEmpty)
  }

  test("property: random corpora × random caps — window equivalence and group invariance hold") {
    // Generalizes the fixed pins: small-vocab random corpora (low
    // entropy forces real band collisions, the hot-bucket regime) and
    // caps drawn from 1..6, checking on every sample that
    //  (a) the successor-frame pair set equals the rank-window reference
    //      derived independently from the signature table, and
    //  (b) connected components over capped pairs equal components
    //      over UNCAPPED pairs (the group-resolution invariance).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.expressions.Window
    val corpusGen = for {
      n <- Gen.choose(8, 40)
      cap <- Gen.choose(1, 6)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 6)
        ws <- Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc", "dd"))
      } yield ws.mkString(" "))
    } yield (cap, rows)
    val samples = (1 to 4).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(907L + i)))
    for (((cap, texts), si) <- samples.zipWithIndex) {
      import spark.implicits._
      val dir = graft.engine.TempDirs.scratch(s"graft-capprop$si")
      texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "web", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val capped = withConf("graft.neardedup.bucketCap", cap.toString) {
        TextOps.minhashPairs(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      // (a) independent rank-window reference off the signature table
      val sig = TextOps.minhashSignatures(spark, dir)
      def chain(idxs: Range) =
        idxs.map(i => col(s"m$i")).reduceLeft((a, b) => a * 31 + b)
      val bands = (0 until 2).map { b =>
          sig.select(col("doc_id"), lit(b.toLong).as("band"),
            chain(b * 4 until (b + 1) * 4).as("bsig"))
        }.reduce(_ union _)
      val rb = bands.withColumn("rn", row_number().over(
        Window.partitionBy("band", "bsig").orderBy("doc_id")))
      val ref = rb.select(col("band"), col("bsig"), col("doc_id").as("d1"), col("rn").as("r1"))
        .join(rb.select(col("band"), col("bsig"), col("doc_id").as("d2"), col("rn").as("r2")),
          Seq("band", "bsig"))
        .filter(col("r2") - col("r1") >= 1 && col("r2") - col("r1") <= cap)
        .select("d1", "d2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped === ref, s"sample $si (cap=$cap): successor frame ≠ rank window")
      // (b) components over capped == components over uncapped,
      //     via driver union-find over each pair set
      def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb2) = (find(a), find(b))
          if (ra != rb2) { if (ra < rb2) parent(rb2) = ra else parent(ra) = rb2 }
        }
        val nodes = pairs.flatMap(p => Seq(p._1, p._2))
        nodes.map(x => x -> find(x)).toMap
      }
      val uncapped = withConf("graft.neardedup.bucketCap", "1000000") {
        TextOps.minhashPairs(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(components(capped) === components(uncapped),
        s"sample $si (cap=$cap): groups diverge under the cap")
    }
  }

  test("default cap is inert on the sf0.001 fixture (pair surface unchanged)") {
    val def_ = TextOps.minhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = withConf("graft.neardedup.bucketCap", "1000000") {
      TextOps.minhashPairs(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(def_ === uncapped)
  }

  // ------------------------------------------- spill-safe bucket memory

  /** Bytes the tasks `f` runs spill to disk, summed on a listener; a
    * marker job drains the bus (it delivers in order, so once the
    * marker job's start arrives every task end of `f` has been seen). */
  private def diskBytesSpilled[A](f: => A): (A, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val marker = "capspec-spill-drained"
    val spilled = new java.util.concurrent.atomic.AtomicLong
    @volatile var drained = false
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => spilled.addAndGet(m.diskBytesSpilled))
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).map(_.getProperty("spark.jobGroup.id")).contains(marker))
          drained = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      var waited = 0
      while (!drained && waited < 10000) { Thread.sleep(50); waited += 50 }
      assert(drained, "listener bus did not deliver the marker job")
      (out, spilled.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("forced window spill: a 200-doc hot bucket spills and emits the same capped surface") {
    // The successor list is a window frame, so no task ever holds a
    // whole bucket: Spark's window buffer spills and the frame keeps
    // at most `cap` rows. Forcing the buffer to disk (1 row in memory,
    // a spill every 32 rows — a spill threshold of 1 opens one read
    // buffer per row and runs the task out of memory) must leave the
    // pair surface, its exact capped count, its dup-freeness and the
    // bucket's single group unchanged. The forced leg runs under a
    // fresh memo epoch: memo keys carry only graft.* confs, so a
    // spark.sql.* flip alone would be served the unspilled memo.
    val dir = writeHotBucketCorpus(nDup = 200)
    val cap = 8
    def pairs(): Seq[(Long, Long)] =
      TextOps.minhashPairs(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    withConf("graft.neardedup.bucketCap", cap.toString) {
      val base = pairs()
      val ((forced, groups), spilled) =
        withConf("spark.sql.windowExec.buffer.in.memory.threshold", "1") {
          withConf("spark.sql.windowExec.buffer.spill.threshold", "32") {
            diskBytesSpilled {
              graft.engine.SessionCache.freshEpoch("capspec-spill") {
                (pairs(), TextOps.resolveGroups(spark, dir, maxEdges = 1000000L)
                  .groupBy("group_id").agg(count(lit(1)).as("sz"))
                  .collect().map(_.getLong(1)).toSeq)
              }
            }
          }
        }
      assert(spilled > 0L, "the forced leg spilled nothing: the window buffer was not exercised")
      assert(forced.toSet === base.toSet,
        s"spilling changed the pair surface: only-spilled=${(forced.toSet -- base.toSet).take(5)} " +
          s"only-base=${(base.toSet -- forced.toSet).take(5)}")
      assert(forced.length === cappedBucketPairs(200, cap))
      assert(forced.length === forced.toSet.size, "spilled generation emitted a pair twice")
      assert(groups === Seq(200L), s"the hot bucket split into groups of sizes $groups")
    }
  }

  // -------------------------------------------- nBands > 2 generality

  test("property: 4-band banding (rowsPerBand=2) — dup-free union equals the rank-window reference") {
    // Declared bandings are b=2×r=4 and b=1×r=8, so the cross-band
    // "emitted earlier" suppression only ever sees ONE earlier band in
    // production. This pins the GENERAL form before anyone flips the
    // knob: at rowsPerBand=2 (4 bands, 3 earlier bands at the last),
    // the dup-free union over bands must equal the brute-force
    // distinct of the per-band rank windows — exactly, per pair, with
    // binding caps, on low-entropy corpora whose buckets collide
    // across bands by construction.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.expressions.Window
    val corpusGen = for {
      n <- Gen.choose(8, 32)
      cap <- Gen.choose(1, 5)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 5)
        ws <- Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc"))
      } yield ws.mkString(" "))
    } yield (cap, rows)
    val samples = (1 to 4).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(6211L + i)))
    for (((cap, texts), si) <- samples.zipWithIndex) {
      import spark.implicits._
      val dir = graft.engine.TempDirs.scratch(s"graft-band4prop$si")
      texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "web", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val engine = withConf("graft.neardedup.bucketCap", cap.toString) {
        TextOps.minhashPairs(spark, dir, rowsPerBand = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      // dup-free: the raw list must already be distinct
      assert(engine.length === engine.toSet.size,
        s"sample $si (cap=$cap): 4-band union emitted a duplicate pair")
      val sig = TextOps.minhashSignatures(spark, dir)
      def chain(idxs: Range) =
        idxs.map(i => col(s"m$i")).reduceLeft((a, b) => a * 31 + b)
      val bands = (0 until 4).map { b =>
          sig.select(col("doc_id"), lit(b.toLong).as("band"),
            chain(b * 2 until (b + 1) * 2).as("bsig"))
        }.reduce(_ union _)
      val rb = bands.withColumn("rn", row_number().over(
        Window.partitionBy("band", "bsig").orderBy("doc_id")))
      val ref = rb.select(col("band"), col("bsig"), col("doc_id").as("d1"), col("rn").as("r1"))
        .join(rb.select(col("band"), col("bsig"), col("doc_id").as("d2"), col("rn").as("r2")),
          Seq("band", "bsig"))
        .filter(col("r2") - col("r1") >= 1 && col("r2") - col("r1") <= cap)
        .select("d1", "d2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(engine.toSet === ref,
        s"sample $si (cap=$cap): 4-band union ≠ windowed distinct: " +
          s"only-engine=${(engine.toSet -- ref).take(5)} only-ref=${(ref -- engine.toSet).take(5)}")
      assert(ref.nonEmpty, s"sample $si: vacuous (no colliding buckets)")
    }
  }
}
