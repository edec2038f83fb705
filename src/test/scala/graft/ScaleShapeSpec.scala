package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Scale-shape proofs (SURVEY.md §7.7): the physical-plan properties
  * the 100 TB design depends on, asserted on real plans —
  * bucketing removes the join shuffle; partition layout prunes the
  * scan; dimension joins broadcast.
  */
class ScaleShapeSpec extends SparkSpec {

  test("bucketed tables join without shuffling the fact table") {
    val tmp = Files.createTempDirectory("bucketed").toString
    Tables.lineitem(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$tmp/li").saveAsTable("li_bucketed")
    Tables.orders(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$tmp/ord").saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"fact side must read pre-bucketed, not shuffle:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side must read pre-bucketed, not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("partitioned layout prunes the scan to the queried partition") {
    val tmp = Files.createTempDirectory("parted").toString
    Tables.orders(spark, sf0001)
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(s"$tmp/orders")
    val q = spark.read.parquet(s"$tmp/orders").filter(col("yr") === 1996)
      .agg(count(lit(1)))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(yr"),
      s"expected partition pruning on yr:\n$plan")
  }

  /** The vec_id equi-joins that attach vectors to candidate pairs in
    * an executed answer plan: the join on each side's id, whatever
    * strategy AQE picked. */
  private def vectorAttaches(plan: String): Seq[String] =
    Seq("id1", "id2").filter(k => raw"(HashJoin|SortMergeJoin) \[$k#\d+L\], \[$k#\d+L\]".r
      .findFirstIn(plan).isDefined)

  test("ann_lsh_topk scores candidates via joins, not a driver-collected map") {
    // assert on the pipeline BUILDERS: the declared query serves the
    // per-session memoized checkpoint (its plan is a LogicalRDD scan)
    val q = graft.engine.sim.Similarity.annLshPlan(spark, sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // round-1's scoring stage collected the whole vector table to the
    // driver and looked candidates up in a broadcast map — the 100 TB
    // killer this spec guards against. Join-based scoring leaves two
    // unmistakable marks the broadcast-map plan had neither of:
    // (a) the candidate pairs equi-join the vector table on each id
    //     (id1 and id2 are vec_id renamed on the vector side)
    assert(vectorAttaches(plan) == Seq("id1", "id2"),
      s"expected candidate-to-vector scoring equi-joins on id1 and id2:\n$plan")
    assert(!plan.contains("MapPartitions"), s"the answer plan must not score in an object kernel:\n$plan")
    // (b) the signature kernel (MapPartitions) sits directly on the
    //     deserialized vector rows — it never consumes a join output
    //     (the round-1 scoring kernel mapped over the joined pairs)
    val sig = graft.engine.sim.Similarity.lshSignatures(spark, sf0001)
    sig.collect()
    val splan = sig.queryExecution.executedPlan.toString
    val kernelInputs = splan.linesIterator.sliding(2).collect {
      case Seq(a, b) if a.contains("MapPartitions") => b
    }.toSeq
    assert(kernelInputs.nonEmpty && kernelInputs.forall(_.contains("DeserializeToObject")),
      s"a kernel consumes non-scan input (join-output scoring?):\n$splan")
  }

  test("hash-based text ops have no global (unpartitioned) window") {
    // round 1 ranked the vocabulary with dense_rank over an
    // unpartitioned Window.orderBy — every distinct token through one
    // task; the md5-fold token id removed every window from these
    // plans. (minhash_near_dedup is not listed: its pipeline sits
    // behind the memoized pair checkpoint, so its declared plan is a
    // LogicalRDD scan — the fold discipline it shares via withTid is
    // what doc_fingerprint's assertion pins.)
    for (k <- Seq("simhash_dedup", "doc_fingerprint")) {
      val plan = graft.SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("Window"), s"$k must not use any window:\n$plan")
    }
    // ngram's prefix filter DOES window — but partitioned by doc_id.
    // Pin BOTH faces (ADVICE r15 #1): the builder (direct shape
    // evidence) AND the declared query — the prefix plan is NOT
    // checkpointed by ngram_jaccard_dedup (deliberate, see the use
    // site), so its window is visible in the shipped plan and a
    // refactor that stopped routing the query through prefixRanks
    // could not silently escape the pin.
    import graft.engine.text.TextOps
    val nplan = TextOps.prefixRanks(TextOps.docTrigramIdArrays(spark, sf0001),
      n => (n / 2).cast("bigint") + 1).queryExecution.optimizedPlan.toString
    assert(nplan.contains("windowspecdefinition(doc_id"),
      s"prefix ranking must partition by doc_id:\n$nplan")
    val declared = graft.SparkEntry.queries("ngram_jaccard_dedup")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(declared.contains("windowspecdefinition(doc_id"),
      s"declared ngram_jaccard_dedup must carry the doc_id-partitioned prefix window:\n$declared")
    // anchored on the attribute boundary: a window on doc_idx must not
    // pass for one on doc_id
    val onDocId = """windowspecdefinition\(doc_id#\d+""".r.findAllIn(declared).size
    val windows = """windowspecdefinition\(""".r.findAllIn(declared).size
    assert(onDocId > 0 && onDocId == windows,
      s"declared ngram_jaccard_dedup must have no window on any other key:\n$declared")
  }

  test("ann_ivf_topk broadcasts ONLY the centroid dim (no vector-table broadcast or kernel)") {
    // the cell ranking's builder, not a declared query: every IVF
    // consumer reads its memoized checkpoint
    val ranked = graft.engine.sim.Similarity.cellRanked(spark, sf0001)
    // every broadcast hint in the tree must cover the k-cell centroid
    // dim (output = cell, cf) and nothing else — a hint whose subtree
    // outputs vec_id/embedding would mean the vector table rides the
    // driver
    val hints = ranked.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty, "expected the centroid broadcast hint")
    hints.foreach { h =>
      assert(h.child.output.map(_.name).toSet == Set("cell", "cf"),
        s"a non-centroid subtree is hinted for broadcast:\n$h")
    }
    // the answer builder attaches vectors by vec_id equi-joins, and
    // scoring is pure joins + codegen'd expressions — no object kernel
    // anywhere (a driver-collected scoring map would need one)
    val q = graft.engine.sim.Similarity.annIvfPlan(spark, sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(vectorAttaches(plan) == Seq("id1", "id2"),
      s"expected candidate-to-vector scoring equi-joins on id1 and id2:\n$plan")
    assert(!plan.contains("MapPartitions"),
      s"ann_ivf_topk must not use an object kernel:\n$plan")
  }

  test("semdedup_embedding: cell-scoped pairs, bare-id candidate join, no cartesian") {
    val q = graft.SparkEntry.queries("semdedup_embedding")(spark, sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the whole point vs embedding_cosine_dedup: candidates come from
    // the cell equi-join, never an all-pairs cartesian, and the
    // vectors attach AFTER candidate generation via vec_id equi-joins
    assert(!plan.contains("CartesianProduct"),
      s"semdedup must never go all-pairs:\n$plan")
    assert(!plan.contains("MapPartitions"),
      s"semdedup must not use an object kernel:\n$plan")
    // candidate generation carries bare ids: the cell self-join's
    // immediate output must not include the vector column f
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("cell"), s"cell key missing from plan:\n$opt")
  }

  test("near_dedup_groups distributed resolve: correct, hint-free, log-round convergence") {
    import graft.engine.text.TextOps
    // force the distributed branch via the documented knob (threshold 0
    // sends even the tiny sf0.001 quotient graph down the propagation
    // path) on an isolated session so other suites keep the default
    val s2 = spark.newSession()
    s2.conf.set("graft.neardedup.quotientMaxEdges", "0")
    val dist = graft.SparkEntry.queries("near_dedup_groups")(s2, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = graft.SparkEntry.queries("near_dedup_groups")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == base, "distributed label propagation must equal driver union-find")
    // hint discipline on the final membership join: the distributed
    // branch must NOT broadcast the resolved label table (it can be
    // arbitrarily large — that is the branch's reason to exist), while
    // the small-quotient branch must (it chose the small-side move)
    val distPlan = TextOps.resolveGroups(s2, sf0001, 0L).queryExecution.analyzed.toString
    assert(!distPlan.contains("ResolvedHint"),
      s"distributed branch must not hint-broadcast the label table:\n$distPlan")
    val smallPlan = TextOps.resolveGroups(spark, sf0001, 1000000L)
      .queryExecution.analyzed.toString
    assert(smallPlan.contains("ResolvedHint"),
      s"small-quotient branch should broadcast the resolved labels:\n$smallPlan")
  }

  test("memoized pair/ngram checkpoints hold session width; bucket-local pairs bounded by band dup") {
    import graft.engine.text.TextOps
    // AQE coalesces a small checkpoint to 1-10 partitions when it only
    // sees bytes (the raw pair list landed at 2 at sf0.1), silently
    // narrowing every consumer pass of the memoized frame — the width
    // is pinned by an explicit repartition before each checkpoint
    val par = spark.sparkContext.defaultParallelism
    for ((name, df) <- Seq(
        "pairs (dup-free, r4)" -> TextOps.minhashPairs(spark, sf0001),
        "b1r8 pairs" -> TextOps.minhashPairs(spark, sf0001, rowsPerBand = 8),
        "8-gram set" -> TextOps.ngramSetCached(spark, sf0001, 8, Seq("doc_id"))))
      assert(df.rdd.getNumPartitions == par,
        s"$name checkpoint width ${df.rdd.getNumPartitions} != session parallelism $par")
    // the bucket-local generation is DUP-FREE (round 9): band b emits
    // a pair only when no earlier band's window already did, so each
    // unordered pair appears EXACTLY once and the former pair-scale
    // distinct shuffle no longer exists anywhere in the chain
    val dupMax = TextOps.minhashPairs(spark, sf0001)
      .groupBy("d1", "d2").count().agg(max("count")).head().getLong(0)
    assert(dupMax == 1, s"dup-free pair generation emitted a pair $dupMax times")
  }

  test("minhash_recall truth join is prefix-filtered, never a raw token-key join") {
    import graft.engine.text.TextOps
    // round 4 shipped the truth as sampled-docs × ALL-docs joined on
    // the raw token key — Σ_t sampled(t)·df(t), quadratic through hot
    // tokens, 99.45 s of the 207 s bench. The fixed shape has two
    // unmistakable marks the round-4 plan had neither of:
    // (a) the rarest-first prefix ranking — a window PARTITIONED BY
    //     doc_id (and no unpartitioned window anywhere);
    val truth = TextOps.minhashTruthPairs(spark, sf0001)
    val plan = truth.queryExecution.optimizedPlan.toString
    // anchored on the attribute boundary, as the ngram pin
    val all = """windowspecdefinition\(""".r.findAllIn(plan).size
    val byDoc = """windowspecdefinition\(doc_id#\d+""".r.findAllIn(plan).size
    assert(all > 0 && all == byDoc,
      s"prefix ranking must be doc_id-partitioned windows ($byDoc of $all):\n$plan")
    // (b) exact verification via one codegen'd array_intersect per
    //     CANDIDATE pair — not a re-join/recount of exploded tokens
    assert(plan.contains("array_intersect"),
      s"truth must verify candidates with array_intersect:\n$plan")
    // and the filter is LOSSLESS: identical pair set to the naive
    // unpruned shared-token join at sf0.001
    val got = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tok = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val naive = tok.select(col("doc_id").as("a"), col("token"))
      .join(tok.select(col("doc_id").as("b"), col("token")), "token")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("a"), col("sz").as("s1")), "a")
      .join(sz.select(col("doc_id").as("b"), col("sz").as("s2")), "b")
      .filter(col("i") / (col("s1") + col("s2") - col("i")) >= 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive has no sample restriction; truth requires >=1 sampled side
    // — so truth ⊆ naive, and every naive pair with a sampled side is
    // in truth. Recompute the sample flag independently via md5 fold.
    val sampled = Tables.documents(spark, sf0001).select(col("doc_id"))
      .withColumn("f", expr(
        """aggregate(transform(sequence(1, 8),
          |  i -> CAST(instr('0123456789abcdef',
          |         substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), i, 1)) - 1 AS BIGINT)),
          |  CAST(0 AS BIGINT), (acc, x) -> acc * 16 + x) % 20""".stripMargin))
      .filter(col("f") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = naive.filter(p => sampled(p._1) || sampled(p._2))
    assert(got == expected,
      s"prefix-filtered truth must equal naive truth (got ${got.size}, expected ${expected.size})")
  }

  test("round-5 ops: no cartesian pair generation; bm25 top-k is TakeOrdered") {
    // every new op's pair/candidate generation must be an equi-join
    // (PMI: doc-local self-join on doc_id; incremental dedup: band
    // signature join; bm25/logppl: token equi-joins). A
    // CartesianProduct anywhere = the corpus-quadratic shape these
    // ops exist to avoid. (1-row stat dims ride BroadcastNestedLoop —
    // that is the intended broadcast-scalar shape, not a cartesian.)
    for (k <- Seq("bm25_topk", "cooccurrence_pmi", "incremental_dedup",
                  "unigram_logppl", "token_budget_sample", "winnow_fingerprint")) {
      val df = graft.SparkEntry.queries(k)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$k must not contain a cartesian product:\n$plan")
    }
    // the bm25 top-20 must be per-partition partial top-k merged on
    // the driver (TakeOrdered), never a global sort of all scores
    val bplan = graft.SparkEntry.queries("bm25_topk")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bplan.contains("TakeOrderedAndProject"),
      s"bm25 top-k must be TakeOrdered, not a global sort:\n$bplan")
    // winnowing is whole-document map-side (winnow_stats kernel): no
    // window operator — and so no doc_id exchange — may reappear
    val wplan = graft.SparkEntry.queries("winnow_fingerprint")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!wplan.contains("windowspecdefinition"),
      s"winnow must stay whole-document map-side (no window):\n$wplan")
  }

  test("round-5b ops: equi-join shapes only; top-k is TakeOrdered; windows partitioned") {
    // the profiling/funnel/LM family must never pair-join or globally
    // sort: pair generation is map-side (zipped slices / char
    // transforms), stats dims broadcast (1-to-few-row scalars ride
    // BroadcastNestedLoop — intended), everything else is equi-joins
    // + hash aggs
    for (k <- Seq("event_funnel", "retention_cohort", "anomaly_zscore",
                  "kl_source_divergence", "bigram_logppl", "char_entropy",
                  "bpe_merge_candidates", "q_histogram", "embedding_standardize")) {
      val df = graft.SparkEntry.queries(k)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$k must not contain a cartesian product:\n$plan")
      val opt = graft.SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("Window"),
        s"$k must not use any window (hash-agg family):\n$opt")
    }
    // BPE top-20: per-partition partial top-k, never a global sort
    val bplan = graft.SparkEntry.queries("bpe_merge_candidates")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bplan.contains("TakeOrderedAndProject"),
      s"bpe top-k must be TakeOrdered:\n$bplan")
    // the two window ops partition by nation — never an unpartitioned
    // (single-task) window
    for (k <- Seq("q_ntile", "q_window_distribution")) {
      val plan = graft.SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      val all = "windowspecdefinition\\(".r.findAllIn(plan).size
      val byNation = "windowspecdefinition\\(c_nationkey#\\d+".r.findAllIn(plan).size
      assert(all > 0 && all == byNation,
        s"$k: $byNation of $all windows partition by c_nationkey:\n$plan")
    }
  }

  test("round-6 ops: no cartesians; histogram/boilerplate shapes; psi windows absent") {
    // chunk_dedup: ONE window on the fingerprint key (first-seen), no
    // pair join anywhere; psi/zorder/freq families: pure hash-agg
    // shapes (no window, no cartesian); jaccard histogram: sampled
    // equi-joins onto the pair surface, never a pair×pair product
    for (k <- Seq("chunk_dedup", "psi_drift", "dedup_jaccard_histogram",
                  "boilerplate_ngrams", "q_range_join_binned",
                  "embedding_centroid_shift", "zorder_layout_audit")) {
      val df = graft.SparkEntry.queries(k)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$k must not contain a cartesian product:\n$plan")
    }
    val cplan = graft.SparkEntry.queries("chunk_dedup")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val allW = "windowspecdefinition\\(".r.findAllIn(cplan).size
    val byFp = "windowspecdefinition\\(fp#\\d+".r.findAllIn(cplan).size
    assert(allW > 0 && allW == byFp,
      s"chunk_dedup windows must partition on the fingerprint ($byFp of $allW):\n$cplan")
    for (k <- Seq("psi_drift", "embedding_centroid_shift", "zorder_layout_audit")) {
      val opt = graft.SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("Window"),
        s"$k must not use any window (hash-agg family):\n$opt")
    }
    // boilerplate top-20: per-partition partial top-k, never a global sort
    val bplan = graft.SparkEntry.queries("boilerplate_ngrams")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bplan.contains("TakeOrderedAndProject"),
      s"boilerplate top-k must be TakeOrdered:\n$bplan")
  }

  test("dimension joins broadcast (no shuffle of the small side)") {
    val j = graft.SparkEntry.queries("q_join_5way")(spark, sf0001)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"region/nation should broadcast:\n$plan")
  }

  test("as-of / sessionize / cdc: every window partitions by user_id, no pair join") {
    // the as-of is the op most tempting to write as a per-pair range
    // join (quadratic per hot user) — this pins the union+window form:
    // no join of any kind in the plan, and every window spec is
    // partitioned (an unpartitioned window = one task at 100 TB).
    // q_cdc_latest graduated past the window form entirely: its
    // latest-per-key is the max(struct) argmax hash agg — pinned
    // window-FREE (and join-free, one hash exchange) below.
    for (k <- Seq("q_asof_join", "q_sessionize")) {
      val plan = graft.SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      val all = "windowspecdefinition\\(".r.findAllIn(plan).size
      val byUser = "windowspecdefinition\\(user_id#\\d+".r.findAllIn(plan).size
      assert(all > 0 && all == byUser,
        s"$k: $byUser of $all windows partition by user_id:\n$plan")
      assert(!plan.contains("Join"), s"$k must be join-free (union+window form):\n$plan")
      // ONE data shuffle: the user_id hash exchange feeds window(s)
      // AND any downstream aggregation (HashPartitioning(user_id)
      // satisfies ClusteredDistribution(user_id, ...)); the only other
      // exchange allowed is the output-contract ORDER BY range one
      val df = graft.SparkEntry.queries(k)(spark, sf0001)
      df.collect()
      // AQE's toString repeats the tree under "== Initial Plan ==" —
      // count exchanges in the final plan section only
      val phys = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val hashEx = "Exchange hashpartitioning\\(".r.findAllIn(phys).size
      assert(hashEx == 1, s"$k: expected exactly 1 hash exchange, got $hashEx:\n$phys")
    }
    // q_cdc_latest: the argmax hash-agg form — window-free, join-free,
    // one user_id hash exchange (partial agg collapses the event log
    // map-side before it)
    val cdc = graft.SparkEntry.queries("q_cdc_latest")(spark, sf0001)
    val cdcOpt = cdc.queryExecution.optimizedPlan.toString
    assert(!cdcOpt.contains("windowspecdefinition"),
      s"q_cdc_latest must stay window-free (argmax hash agg):\n$cdcOpt")
    assert(!cdcOpt.contains("Join"), s"q_cdc_latest must be join-free:\n$cdcOpt")
    cdc.collect()
    val cdcPhys = cdc.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val cdcEx = "Exchange hashpartitioning\\(".r.findAllIn(cdcPhys).size
    assert(cdcEx == 1, s"q_cdc_latest: expected exactly 1 hash exchange, got $cdcEx:\n$cdcPhys")
  }

  test("round-7 ops: substring dedup joins nothing (digest-grouped); fertility is one hash agg") {
    // exact_substring_dedup finds shared 50-token spans by GROUPING
    // window digests, never by pairing documents: no Join of any kind
    // may appear (a pair-join form is quadratic in dup-cluster size),
    // and the only window is partitioned by the span fingerprint.
    val sub = graft.SparkEntry.queries("exact_substring_dedup")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!sub.contains("Join"), s"substring dedup must be join-free:\n$sub")
    val all = "windowspecdefinition\\(".r.findAllIn(sub).size
    val byFp = "windowspecdefinition\\(fp#\\d+".r.findAllIn(sub).size
    assert(all > 0 && all == byFp,
      s"span-count windows must partition by fp ($byFp of $all):\n$sub")
    // tokenizer_fertility: map-side regex counts into ONE hash agg —
    // no join, no window, nothing sorts except the output contract
    val fert = graft.SparkEntry.queries("tokenizer_fertility")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!fert.contains("Join") && !fert.contains("Window"),
      s"fertility must be a single-agg plan:\n$fert")
  }

  test("sampled-pair consumers: warm plans are cartesian-free, window-free, all-checkpoint reads") {
    // dedup_threshold_sweep / minhash_calibration ride the memoized
    // pair + token-array (+ signature) checkpoints: once those are
    // warm, the physical plan must contain NO parquet scan at all
    // (every input is a checkpointed RDD), no cartesian (pairs come
    // from the banded surface, never re-paired), and no window (both
    // are pure hash-agg shapes). A parquet scan re-appearing here
    // means a consumer re-derived the chain instead of reading it.
    import graft.engine.text.TextOps
    TextOps.docTokenArrays(spark, sf0001).count()
    TextOps.minhashPairs(spark, sf0001, rowsPerBand = 4).count()
    TextOps.minhashSignatures(spark, sf0001).count()
    for (k <- Seq("dedup_threshold_sweep", "minhash_calibration")) {
      val q = graft.SparkEntry.queries(k)(spark, sf0001)
      q.collect()
      val phys = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!phys.contains("CartesianProduct"), s"$k must not pair-join:\n$phys")
      assert(!phys.contains("Window"), s"$k must be window-free:\n$phys")
      assert("Scan parquet".r.findAllIn(phys).isEmpty,
        s"$k warm plan must read only checkpointed inputs:\n$phys")
    }
    // dedup_token_mass reads the GROUP checkpoint + one documents
    // scan (the token counts): a second parquet scan or any window
    // would mean the resolve chain was re-derived
    TextOps.resolvedGroups(spark, sf0001).count()
    val dtm = graft.SparkEntry.queries("dedup_token_mass")(spark, sf0001)
    dtm.collect()
    val dtmPhys = dtm.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!dtmPhys.contains("Window") && !dtmPhys.contains("CartesianProduct"),
      s"dedup_token_mass must be a join+agg plan:\n$dtmPhys")
    assert("Scan parquet".r.findAllIn(dtmPhys).size <= 1,
      s"dedup_token_mass warm plan re-derives the chain:\n$dtmPhys")
  }

  test("round-7 additions: broadcast cut dims, checkpointed kernels, window-free sweeps") {
    // ccnet_ppl_buckets: the per-lang tertile-cut dim must BROADCAST
    // back over the doc stream — a shuffle join on the 5-value lang
    // key would funnel the corpus through 5 reducers (the skew trap
    // the boundary design exists to avoid; a per-lang NTILE sort is
    // the same trap with a sort attached)
    val ccnet = graft.SparkEntry.queries("ccnet_ppl_buckets")(spark, sf0001)
    ccnet.collect()
    val cplan = ccnet.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the assertion targets the JOIN KEY, not mere broadcast presence
    // (the LM crossJoins broadcast regardless): the lang-keyed cuts
    // join itself must be broadcast — a sort-merge/shuffled-hash join
    // on the ~5-value lang key would funnel the corpus through 5
    // reducers
    assert(cplan.contains("BroadcastHashJoin [lang"),
      s"tertile cuts must broadcast-join on lang:\n$cplan")
    assert(!cplan.contains("SortMergeJoin [lang")
      && !cplan.contains("ShuffledHashJoin [lang"),
      s"bucketing must not shuffle the doc stream on lang:\n$cplan")
    // pack_efficiency_sweep: the per-shard cumsum runs ONCE inside the
    // eager checkpoint; the three declared operating points are pure
    // agg branches over it — any Window or parquet scan in the final
    // plan means a branch re-derived the cumsum
    val pack = graft.SparkEntry.queries("pack_efficiency_sweep")(spark, sf0001)
    pack.collect()
    val pplan = pack.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!pplan.contains("Window"), s"sweep branches must reuse the cumsum:\n$pplan")
    assert("Scan parquet".r.findAllIn(pplan).isEmpty,
      s"sweep must read only the checkpointed cumsum:\n$pplan")
    // eval_contamination_report rides the memoized 8-gram set: warm,
    // its plan reads ONLY checkpointed RDDs and never pairs docs
    graft.engine.text.TextOps.ngramSetCached(spark, sf0001, 8,
      Seq("doc_id", "source")).count()
    val ev = graft.SparkEntry.queries("eval_contamination_report")(spark, sf0001)
    ev.collect()
    val eplan = ev.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!eplan.contains("CartesianProduct"), s"must join on the shingle key:\n$eplan")
    assert("Scan parquet".r.findAllIn(eplan).isEmpty,
      s"warm plan must read the shared 8-gram checkpoint:\n$eplan")
    // ann_sq_rescore_sweep: coarse kernel + exact rescore live inside
    // one eager checkpoint; the three rescore depths re-rank that
    // (|Q|·16)-row table and grade against the truth checkpoint — no
    // parquet scan and no cartesian may appear in the declared plan
    val sq = graft.SparkEntry.queries("ann_sq_rescore_sweep")(spark, sf0001)
    sq.collect()
    val splan = sq.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!splan.contains("CartesianProduct"),
      s"rescore branches must not re-pair: \n$splan")
    assert("Scan parquet".r.findAllIn(splan).isEmpty,
      s"warm plan must read the rescore + truth checkpoints:\n$splan")
    // ccnet_ppl_buckets: the per-doc NLL table is checkpointed, so
    // the declared plan's two consumers (cuts + bucketing) read the
    // checkpoint instead of re-running the token explode/join/agg —
    // a parquet scan re-appearing means the double-compute came back
    val cc2 = graft.SparkEntry.queries("ccnet_ppl_buckets")(spark, sf0001)
    cc2.collect()
    val cc2plan = cc2.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(cc2plan).isEmpty,
      s"both ccnet branches must read the NLL checkpoint:\n$cc2plan")
    // dsir_importance_weights: the log-ratio dim joins the token
    // stream UNHINTED and AQE must still pick a broadcast at this SF
    // (it measures the vocab-sized dim at runtime — a SIZE-BASED
    // choice, so the token-keyed shuffle fallback stays reachable at
    // 100 TB vocabularies; a hard broadcast() hint passing this same
    // assertion is exactly what round-7 advice flagged) and the
    // top-50 must be TakeOrdered, never a global sort
    val ds = graft.SparkEntry.queries("dsir_importance_weights")(spark, sf0001)
    ds.collect()
    val dsplan = ds.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(dsplan.contains("BroadcastHashJoin [token"),
      s"AQE must broadcast the measured-small log-ratio dim on token:\n$dsplan")
    assert(dsplan.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered, not a global sort:\n$dsplan")
  }

  test("dedup-chain billing: warm consumers read checkpoints, never re-derive the chain") {
    // Round-6 bench billing was order-dependent: whichever dedup
    // consumer ran first paid the whole token→signature→pair→truth
    // build (driver billed 14.2 s to minhash_recall; incremental cost
    // ~1 s). Bench now pre-touches the shared memos; this pin makes
    // the warm-consumer contract order-INDEPENDENT: once the chain is
    // materialized, each recall consumer's physical plan reads the
    // checkpointed RDDs (pairs + truth) and touches the documents
    // parquet only for the two per-doc sample-flag dim joins — a
    // chain re-derivation would put the pair build's successor frame
    // (`RowFrame, 1,` — no other window in the chain has a frame
    // starting one row ahead) or the truth verification
    // (array_intersect) back into these plans and fail the pins below.
    import graft.engine.text.TextOps
    val build = TextOps.minhashPairsPlan(spark, sf0001)
    build.collect()
    assert(build.queryExecution.executedPlan.toString.contains("RowFrame, 1,"),
      s"the pair build lost its successor frame, so the pin below is vacuous:\n" +
        build.queryExecution.executedPlan)
    TextOps.distinctTokens(spark, sf0001).count()
    TextOps.docTokenArrays(spark, sf0001).count()
    TextOps.minhashPairs(spark, sf0001, rowsPerBand = 4).count()
    TextOps.minhashPairs(spark, sf0001, rowsPerBand = 8).count()
    TextOps.minhashTruthCached(spark, sf0001).count()
    for (k <- Seq("minhash_recall", "minhash_recall_b1r8")) {
      val q = graft.SparkEntry.queries(k)(spark, sf0001)
      q.collect()
      val phys = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val parquetScans = "Scan parquet".r.findAllIn(phys).size
      val rddScans = "Scan ExistingRDD".r.findAllIn(phys).size
      assert(parquetScans <= 2,
        s"$k warm plan re-scans parquet $parquetScans times (chain re-derivation?):\n$phys")
      assert(rddScans >= 2,
        s"$k warm plan must read the pair + truth checkpoints (got $rddScans RDD scans):\n$phys")
      assert(!phys.contains("RowFrame, 1,") && !phys.contains("array_intersect"),
        s"$k warm plan rebuilds the pair surface or the truth:\n$phys")
    }
  }

  test("ngram fingerprint builds run the native kernels, no interpreted HOF lambdas") {
    // Round-7 verdict item #2: Spark HOFs are CodegenFallback, so a
    // `transform(..., i -> fold_hex(md5(...)))` in a hot build
    // interprets its whole lambda per element — at 100 TB a real CPU
    // multiplier on the trigram/shingle families. The three builds now
    // project the codegen'd NgramFold kernels; `lambdafunction(`
    // reappearing in any of these plans means an interpreted HOF crept
    // back into the hot path (NgramFoldSpec separately pins the
    // kernels bit-for-bit against the HOF forms, so this swap can
    // never change a hash).
    import graft.engine.text.TextOps
    val tri = TextOps.docFeaturesPlan(spark, sf0001)
    val triPlan = tri.queryExecution.executedPlan.toString
    assert(triPlan.contains("ngram_fold_ids"),
      s"trigram-id build must use the native kernel:\n$triPlan")
    assert(!triPlan.toLowerCase.contains("lambdafunction"),
      s"interpreted HOF lambda back in the trigram-id build:\n$triPlan")
    for ((k, kernel) <- Seq("winnow_fingerprint" -> "winnow_stats",
                            "cooccurrence_pmi" -> "token_pairs",
                            "exact_substring_dedup" -> "ngram_md5_set",
                            "bpe_merge_candidates" -> "char_pair_freq",
                            "char_entropy" -> "char_entropy_stats",
                            "rag_chunk" -> "chunk_fps",
                            "chunk_dedup" -> "chunk_fps",
                            "embedding_quantize" -> "quant_sse")) {
      val q = graft.SparkEntry.queries(k)(spark, sf0001)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains(kernel), s"$k must use $kernel:\n$plan")
      assert(!plan.toLowerCase.contains("lambdafunction"),
        s"$k has an interpreted HOF lambda in its plan:\n$plan")
    }
    // bigram_logppl / simhash_dedup eagerly checkpoint their shared
    // kernel subtree for multiple consumers, so the kernel pin lives
    // on the pre-checkpoint plan BUILDER, and the declared plan must
    // show the double-compute stayed gone: at most one parquet scan
    // (the audit that motivated the checkpoints counted 3 and 5)
    for ((k, builder) <- Seq[(String, org.apache.spark.sql.DataFrame)](
        "bigram_logppl" -> TextOps.bigramStreamPlan(spark, sf0001),
        "simhash_dedup" -> TextOps.docFeaturesPlan(spark, sf0001))) {
      val bplan = builder.queryExecution.executedPlan.toString
      assert(bplan.contains(if (k == "simhash_dedup") "simhash16" else "word_bigrams"),
        s"$k builder must use its native kernel:\n$bplan")
      assert(!bplan.toLowerCase.contains("lambdafunction"),
        s"$k builder has an interpreted HOF lambda:\n$bplan")
      val q = graft.SparkEntry.queries(k)(spark, sf0001)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert("Scan parquet".r.findAllIn(plan).size <= 1,
        s"$k re-derives the checkpointed kernel subtree:\n$plan")
      assert(!plan.toLowerCase.contains("lambdafunction"),
        s"$k has an interpreted HOF lambda in its plan:\n$plan")
    }
  }

  test("signature kernels are map-side: no Generate, no key exchange in any signature path") {
    // Round-8 verdict item #5: minhash8/simhash16/word_stats have
    // bit-level VALUE pins (NgramFoldSpec) — this is the SHAPE pin
    // (the ngram_md5_set pattern): a (doc, token) row must never
    // exist in a signature path, so the plans may contain no
    // Generate (token explode) and no key-partitioned exchange (the
    // docsF fan is RoundRobin and stays legal). A Generate
    // reappearing here means the explode → per-token → re-agg chain
    // crept back — one full corpus shuffle per signature build at
    // 100 TB.
    import graft.engine.text.TextOps
    // both signatures are built in the one per-doc feature plan
    val plan = TextOps.docFeaturesPlan(spark, sf0001).queryExecution.executedPlan.toString
    for (name <- Seq("minhash8", "simhash16"))
      assert(plan.contains(name), s"$name build lost its kernel:\n$plan")
    assert(!plan.contains("Generate "), s"the signature path explodes tokens:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), s"the signature path shuffles on a key:\n$plan")
    // word_stats rides UN-memoized in the declared plans — pin the
    // score face (range-partitioned output sort only) and the sweep
    // (its one hash exchange is the 5-group threshold agg, never a
    // token or doc key)
    val score = graft.SparkEntry.queries("repetition_score")(spark, sf0001)
    score.collect()
    val sp = score.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(sp.contains("word_stats("), s"repetition_score lost the kernel:\n$sp")
    assert(!sp.contains("Generate ") && !sp.contains("Exchange hashpartitioning"),
      s"repetition_score must be kernel + output sort only:\n$sp")
    val sweep = graft.SparkEntry.queries("repetition_filter_sweep")(spark, sf0001)
    sweep.collect()
    val wp = sweep.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(wp.contains("word_stats("), s"sweep lost the kernel:\n$wp")
    assert(!wp.contains("Generate "),
      s"sweep signature path explodes tokens:\n$wp")
    assert(!"""hashpartitioning\((doc_id|token)""".r.findFirstIn(wp).isDefined,
      s"sweep shuffles on a doc/token key:\n$wp")
  }

  test("dsir's token-keyed shuffle fallback exists and is result-identical") {
    // The round-7 advice's real complaint: the documented "token-keyed
    // shuffle at 100 TB" path must actually be REACHABLE, not
    // foreclosed by a hard broadcast hint. With the hint removed, the
    // strategy is AQE's size call — so force the fallback (broadcast
    // threshold -1 on a fresh session) and require (a) the plan joins
    // the log-ratio dim as a shuffle join on token, and (b) the top-50
    // resampling head is IDENTICAL to the broadcast-shaped answer.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = graft.SparkEntry.queries("dsir_importance_weights")(s2, sf0001)
    shuffled.collect()
    val plan = shuffled.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(("SortMergeJoin \\[token".r.findFirstIn(plan).isDefined
        || "ShuffledHashJoin \\[token".r.findFirstIn(plan).isDefined),
      s"fallback must shuffle-join the log-ratio dim on token:\n$plan")
    assert(!plan.contains("BroadcastHashJoin [token"),
      s"threshold -1 must disable the broadcast shape:\n$plan")
    val a = shuffled.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = graft.SparkEntry.queries("dsir_importance_weights")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b, s"shuffle and broadcast shapes must agree:\n$a\n$b")
  }

  test("exact_substring_dedup shuffles O(tokens) digests, windowed on the fingerprint") {
    // Round-7 verdict item #3: the newest heavy operator, pinned like
    // the dedup/ANN shapes. The only data that may cross the wire is
    // the exploded (doc_id, fp) digest stream — 24 bytes/row × O(Σ
    // tokens) rows; the 50-token SPANS must never shuffle (they exist
    // only inside the map-side kernel), and the duplication count runs
    // as a fingerprint-partitioned window (the exact_dedup
    // discipline), never a global sort or a self-join.
    val q = graft.SparkEntry.queries("exact_substring_dedup")(spark, sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // (1) the digest stream leaves its Generate as BARE (doc_id, fp):
    // the generator's required child output is pruned to doc_id and
    // its own output is the fp column — the span array w# (and text#)
    // stay below, inside the map-side stage, so only 24-byte digest
    // rows ever reach an exchange
    assert("""Generate explode\(ngram_md5_set\(w#\d+, 50\)\), \[doc_id#\d+L\], false, \[fp#\d+\]""".r
        .findFirstIn(plan).isDefined,
      s"digest explode must emit bare (doc_id, fp):\n$plan")
    // (2) the dup-count shuffle is keyed on the FINGERPRINT alone
    assert("""Exchange hashpartitioning\(fp#\d+, \d+\)""".r.findFirstIn(plan).isDefined,
      s"dup-count must run on a fingerprint-partitioned window:\n$plan")
    assert("""Window \[count\(1\) windowspecdefinition\(fp#\d+""".r.findFirstIn(plan).isDefined,
      s"the per-span occurrence count must be an fp-partitioned window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"duplication mass is a window + agg, never a join:\n$plan")
  }
}
