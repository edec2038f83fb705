package graft

import graft.engine.sim.Similarity
import graft.engine.cluster.KMeansSweep
import graft.engine.Tables

/** Similarity + sweep behavior on the real sf0.001 embeddings
  * (500 × 64-d, true k = 10).
  */
class SimilaritySpec extends SparkSpec {

  test("knn_per_vector returns 5 ranked neighbors per vector") {
    val knn = Similarity.queries("knn_per_vector")(spark, sf0001)
    val counts = knn.groupBy("id1").count().collect()
    assert(counts.forall(_.getLong(1) == 5))
    val first = knn.filter("id1 = 0").orderBy("rank").collect()
    val dists = first.map(_.getDouble(3))
    assert(dists.sliding(2).forall(p => p(0) <= p(1)), "distances must be non-decreasing")
  }

  test("knn kernel ≡ declarative window form, including duplicate-vector ties") {
    // random vectors with SEEDED generator + exact duplicates so the
    // bounded-selection kernel's (round6(dist), id2) tie-break is
    // actually exercised against the reference window form
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), i % 3))
    // ids 40-49 duplicate vectors 0-9 → distance ties at 0 and equal
    // non-zero distances from every other point
    val dups = (0 until 10).map(i => (40L + i, base(i)._2.clone(), i % 3))
    val dir = graft.engine.TempDirs.scratch("graft-knneq")
    (base ++ dups).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // this unit fixture is 8-d; the universe gate keys on the declared
    // graft.vector.dim, exactly how a non-64-d library corpus opts in
    val kernel = withConf("graft.vector.dim", "8") {
      Similarity.queries("knn_per_vector")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }

    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("f"))
    val w = Window.partitionBy("id1").orderBy(col("dist"), col("id2"))
    val reference = v.select(col("vec_id").as("id1"), col("f").as("f1"))
      .crossJoin(v.select(col("vec_id").as("id2"), col("f").as("f2")))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), round(sqrt(
        aggregate(zip_with(col("f1"), col("f2"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)), 6).as("dist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("id1", "rank", "id2", "dist")
      .orderBy("id1", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    assert(kernel.toSeq == reference.toSeq,
      "bounded-selection kernel must equal the declarative window form")
  }

  test("knn_per_vector takes the DISTRIBUTED branch above the kernel gate") {
    // Above the kernel gate the query must plan a cross-join +
    // window (no driver collect, no mapPartitions kernel) and still
    // return identical rows — the gate is what keeps the collect
    // kernel from being a driver-memory trap at scale.
    val gated = Similarity.knnPerVector(spark, sf0001, gate = 1)
    val plan = gated.queryExecution.executedPlan.toString
    // the cross join plans as CartesianProduct (big-big) or
    // BroadcastNestedLoopJoin (one side under the broadcast
    // threshold); either is the distributed pair generator. What must
    // NOT appear is the object kernel (SerializeFromObject), and the
    // top-5 must run as a Window with group-limit pushdown.
    assert(plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected the distributed cross-join form above the gate:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-vector top-5 must push down as a window group limit:\n$plan")
    assert(!plan.contains("SerializeFromObject"),
      s"kernel (mapPartitions) must NOT run above the gate:\n$plan")
    val viaWindow = gated.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val viaKernel = Similarity.queries("knn_per_vector")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(viaWindow.toSeq == viaKernel.toSeq,
      "both branches must produce identical declared output")
  }

  test("cosine_topk is symmetric-free (i<j) and sorted descending") {
    val top = Similarity.queries("cosine_topk")(spark, sf0001).collect()
    assert(top.length == 100)
    assert(top.forall(r => r.getLong(0) < r.getLong(1)))
    val sims = top.map(_.getDouble(2))
    assert(sims.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("embedding_norm_stats covers all 10 labels with sane bounds") {
    val st = Similarity.queries("embedding_norm_stats")(spark, sf0001).collect()
    assert(st.length == 10)
    st.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4),
        "min ≤ mean ≤ max")
    }
  }

  test("ann_lsh_topk agrees with brute force for most vectors (recall ≥ 0.6)") {
    // LSH with 8 hyperplanes on 10 well-separated clusters: the
    // same-bucket best neighbor should often be the global best.
    val ann = Similarity.queries("ann_lsh_topk")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Similarity.queries("knn_per_vector")(spark, sf0001)
      .filter("rank = 1").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = ann.count { case (id, nn) => brute.get(id).contains(nn) }
    assert(ann.nonEmpty)
    // measured deterministic fixture recall is 0.700 (modular hashes,
    // fixed fixture) — the old 0.3 floor only bound at near-total
    // collapse; 0.6 binds on any real degradation (e.g. losing tables)
    assert(hits.toDouble / ann.size >= 0.6, s"recall ${hits.toDouble / ann.size}")
  }

  test("ann_recall: one row per ANN algo, counts consistent, recall in [0,1]") {
    val rows = Similarity.queries("ann_recall")(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ann_ivf_topk", "ann_lsh_topk"))
    rows.foreach { r =>
      val (nq, na, nc, rec) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nq > 0 && na <= nq && nc <= na, s"inconsistent counts: $r")
      assert(rec >= 0.0 && rec <= 1.0 && math.abs(rec - nc.toDouble / nq) < 1e-6)
    }
    // the LSH answer agrees with the truth often enough to be an ANN
    // (uniform-random agreement would be ~1/n)
    val lsh = rows.find(_.getString(0) == "ann_lsh_topk").get
    // measured deterministic sampled recall is 0.641 — floor 0.55
    assert(lsh.getDouble(4) >= 0.55, s"LSH recall collapsed: $lsh")
  }

  test("ann_nprobe_sweep: monotone recall/cost curve; np=2 matches ann_recall's IVF row") {
    val sweep = Similarity.queries("ann_nprobe_sweep")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 2L, 4L), s"got ${sweep.toSeq}")
    // probing more cells can only ADD candidates: answered, correct,
    // and candidate volume are all non-decreasing in nprobe
    for (w <- sweep.sliding(2); a = w(0); b = w(1)) {
      assert(a._3 <= b._3, s"n_answered decreased: $a -> $b")
      assert(a._4 <= b._4, s"n_correct decreased: $a -> $b")
      assert(a._6 <= b._6, s"n_candidates decreased: $a -> $b")
    }
    sweep.foreach { r =>
      assert(r._2 > 0 && r._3 <= r._2 && r._4 <= r._3, s"inconsistent counts: $r")
      assert(math.abs(r._5 - r._4.toDouble / r._2) < 1e-6, s"recall != nc/nq: $r")
    }
    // the declared ann_ivf_topk operating point IS nprobe=2: the sweep's
    // middle row must reproduce ann_recall's IVF measurement exactly
    val ivf = Similarity.queries("ann_recall")(spark, sf0001).collect()
      .find(_.getString(0) == "ann_ivf_topk").get
    val np2 = sweep.find(_._1 == 2L).get
    assert((np2._2, np2._3, np2._4) == ((ivf.getLong(1), ivf.getLong(2), ivf.getLong(3))),
      s"np=2 row ${np2} must match ann_recall ivf ${ivf}")
  }

  test("lsh_tables_sweep: monotone curve; 5-table row matches ann_recall's LSH row") {
    val sweep = Similarity.queries("lsh_tables_sweep")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 3L, 5L), s"got ${sweep.toSeq}")
    // candidates(t) ⊆ candidates(t+1): answered/correct/candidates
    // can only grow with more tables
    for (w <- sweep.sliding(2); a = w(0); b = w(1)) {
      assert(a._3 <= b._3 && a._4 <= b._4 && a._6 <= b._6,
        s"curve not monotone: $a -> $b")
    }
    // all 5 tables IS the declared ann_lsh_topk operating point
    val lsh = Similarity.queries("ann_recall")(spark, sf0001).collect()
      .find(_.getString(0) == "ann_lsh_topk").get
    val t5 = sweep.find(_._1 == 5L).get
    assert((t5._2, t5._3, t5._4) == ((lsh.getLong(1), lsh.getLong(2), lsh.getLong(3))),
      s"t=5 row ${t5} must match ann_recall lsh ${lsh}")
  }

  test("one-pass grading of the ANN recall queries equals the per-point union form") {
    val diff = AnnGradingReference.mismatches(spark, sf0001)
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("every frame memo reports the bytes it stores to the optimizer") {
    // a plain localCheckpoint carries its origin plan's static estimate
    // (tens of GB for the few-thousand-row cell ranking, 3e37 bytes for
    // the MinHash truth), which planned hash shuffles, sort-merge joins
    // and bloom-filter subqueries around tiny memos
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.engine.text.TextOps
    Seq("vecs" -> Similarity.vecs(spark, sf0001),
      "sampledTruth" -> Similarity.sampledTruth(spark, sf0001),
      "cellRankedCached" -> Similarity.cellRankedCached(spark, sf0001),
      "lshSignaturesCached" -> Similarity.lshSignaturesCached(spark, sf0001),
      "annAnswer(lsh)" -> Similarity.annAnswer(spark, sf0001, "lsh"),
      "annAnswer(ivf)" -> Similarity.annAnswer(spark, sf0001, "ivf"),
      "docFeatures" -> TextOps.docFeatures(spark, sf0001),
      "minhashPairs(r4)" -> TextOps.minhashPairs(spark, sf0001, rowsPerBand = 4),
      "minhashPairs(r8)" -> TextOps.minhashPairs(spark, sf0001, rowsPerBand = 8),
      "minhashTruthCached" -> TextOps.minhashTruthCached(spark, sf0001),
      "resolvedGroups" -> TextOps.resolvedGroups(spark, sf0001),
      "ClusterQueries.pts" -> graft.engine.cluster.ClusterQueries.pts(spark, sf0001),
      "mediaTable" -> graft.engine.multimodal.Multimodal.mediaTable(spark, sf0001)).foreach { case (name, df) =>
      val rdd = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      assert(rdd.isDefined, s"$name is not a checkpoint")
      val stored = spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.get.id)
        .map(i => i.memSize + i.diskSize).sum
      val claimed = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stored > 0 && claimed == BigInt(stored), s"$name: plan claims $claimed bytes, its blocks store $stored")
    }
    // the 8-gram set is no memo of its own: its plan reads exactly one
    // checkpoint, the per-doc feature table's
    def rdds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    val ng = rdds(TextOps.ngramSetCached(spark, sf0001, 8, Seq("doc_id", "source")))
    assert(ng == rdds(TextOps.docFeatures(spark, sf0001)) && ng.size == 1,
      s"the 8-gram set reads checkpoints $ng, not the docFeatures checkpoint alone")
  }

  test("every similarity query over the vector checkpoint equals its raw-pass reference") {
    val diff = SimilarityVectorsReference.mismatches(spark, sf0001)
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("ann_sq_rescore_sweep: deeper exact rescore never loses recall") {
    val sweep = Similarity.queries("ann_sq_rescore_sweep")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 4L, 16L), s"got ${sweep.toSeq}")
    // shortlists nest (qr <= 1 ⊂ qr <= 4 ⊂ qr <= 16) and the true NN is
    // the GLOBAL argmax under the same (cos DESC, id) ranking key — once
    // a shortlist captures it, it wins every deeper rescore too, so
    // n_correct is non-decreasing in rescore depth
    for (w <- sweep.sliding(2); a = w(0); b = w(1))
      assert(a._3 <= b._3, s"deeper rescore lost recall: $a -> $b")
    sweep.foreach { r =>
      assert(r._2 > 0 && r._3 <= r._2, s"inconsistent counts: $r")
      assert(math.abs(r._4 - r._3.toDouble / r._2) < 1e-6, s"recall != nc/nq: $r")
    }
    // int8 error at 64 dims is ~1e-2 relative: a 16-deep exact rescore
    // must recover most of the exact recall
    // measured deterministic rescore recall is 1.0 at every depth on
    // this fixture (int8 error at 64 dims never flips the argmax) —
    // the old 0.5 floor tolerated half the answers going wrong
    assert(sweep.last._4 >= 0.9, s"16-deep rescore recall collapsed: ${sweep.toSeq}")
  }

  test("ann_filtered_topk: answers satisfy the predicate and never beat the unfiltered probe") {
    val lbl = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.queries("ann_filtered_topk")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "sampled queries should find same-label candidates")
    rows.foreach { case (q, nn, _) =>
      assert(q % 13 == 0, s"non-sampled query answered: $q")
      assert(lbl(q) == lbl(nn), s"filter violated: $q(label ${lbl(q)}) -> $nn(label ${lbl(nn)})")
    }
    // the unfiltered IVF answer optimizes over a SUPERSET of the
    // filtered candidate set (same probed cells, no label restriction)
    // — the filtered best can never exceed it
    val ivf = Similarity.queries("ann_ivf_topk")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { case (q, _, cos) =>
      ivf.get(q).foreach(u => assert(cos <= u + 1e-9,
        s"filtered answer beats the unfiltered optimum for $q: $cos > $u"))
    }
  }

  test("ivf_cell_balance: audit reconciles with the corpus and its own algebra") {
    val r = Similarity.queries("ivf_cell_balance")(spark, sf0001).collect()(0)
    val (nv, nc, mn, mx, imb, cost) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val n = Tables.embeddings(spark, sf0001).count()
    assert(nv == n, s"every vector must be assigned to exactly one cell: $nv != $n")
    assert(nc >= 1 && mn >= 1 && mn <= mx && mx <= nv, s"size bounds: $r")
    // imbalance = max·cells/n >= 1 by max >= mean (ppm, floor division)
    assert(imb >= 1000000L, s"imbalance below the even-split floor: $r")
    // Σ sz² is bounded by n (all singleton cells) and n·max (all in one)
    assert(cost >= nv && cost <= nv * mx, s"cost_pairs outside [n, n·max]: $r")
  }

  test("k-sweep on true-k=10 data: WSSSE decreases with k; silhouette picks larger k") {
    val sw = KMeansSweep.sweep(Tables.points(spark, sf0001), 2, 10, maxIter = 10)
      .orderBy("k").collect()
    val wssse = sw.map(_.getDouble(1))
    // WSSSE should broadly decrease as k grows (allow small local bumps
    // from k-means local minima)
    assert(wssse.head > wssse.last, s"wssse head=${wssse.head} last=${wssse.last}")
    val silByK = sw.map(r => r.getInt(0) -> r.getDouble(2)).toMap
    val bestK = silByK.maxBy(v => (v._2, -v._1))._1
    assert(bestK >= 8, s"BD-Silhouette should prefer k near 10, got $bestK")
  }

  test("optimal_k_select emits all four criteria") {
    val sw = KMeansSweep.sweep(Tables.points(spark, sf0001), 2, 6, maxIter = 5)
    val opt = KMeansSweep.optimalK(sw).collect()
    assert(opt.map(_.getString(0)).toSet ==
      Set("bd_silhouette_max", "bd_dunn_max", "davies_bouldin_min", "wssse_elbow"))
  }

  test("incremental_ann_upsert: every batch vector routes to exactly one cell; zero-distance self-match") {
    import spark.implicits._
    // label 0's centroid is exactly (1, 2) (both base vecs identical),
    // and batch vec 7 carries that same vector → its d² is exactly 0
    // and it must route to cell 0; batch vec 17 sits at (9, 9), closer
    // to label 1's (8, 8) centroid. Σ n_new must equal the batch size
    // (each batch vec assigned exactly once), and the exact-integer
    // core must yield sum_d2_ppm = 0 for the self-match cell.
    val dir = graft.engine.TempDirs.scratch("graft-upsert")
    Seq(
      (0L, Array(1.0f, 2.0f), 0), (10L, Array(1.0f, 2.0f), 0),
      (4L, Array(8.0f, 8.0f), 1), (14L, Array(8.0f, 8.0f), 1),
      (7L, Array(1.0f, 2.0f), 0), (17L, Array(9.0f, 9.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = withConf("graft.vector.dim", "2") { // 2-d unit fixture
      Similarity.queries("incremental_ann_upsert")(spark, dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    }
    assert(out.map(_._2).sum == 2, s"batch size 2, got ${out.toSeq}")
    val byCell = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byCell(0) == (1L, 0L), s"vec 7 must self-match cell 0 at d²=0: ${out.toSeq}")
    assert(byCell(1)._1 == 1L, s"vec 17 must route to cell 1: ${out.toSeq}")
  }

  test("embedding_centroid_shift: identical cohorts ⇒ shift 0 everywhere") {
    import spark.implicits._
    // even/odd ids carry the SAME two vectors per label → cohort means equal
    val dir = graft.engine.TempDirs.scratch("graft-cshift")
    Seq(
      (0L, Array(1.0f, 2.0f), 0), (1L, Array(1.0f, 2.0f), 0),
      (2L, Array(3.0f, 4.0f), 0), (3L, Array(3.0f, 4.0f), 0),
      (4L, Array(-1.0f, 0.5f), 1), (5L, Array(-1.0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = withConf("graft.vector.dim", "2") { // 2-d unit fixture
      Similarity.queries("embedding_centroid_shift")(spark, dir).collect()
    }
    assert(rows.length == 4) // 2 labels × 2 dims
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(3) > 0, s"cohort empty: $r")
      assert(r.getDouble(4) == 0.0, s"identical cohorts must not drift: $r")
    }
  }
}
