package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.cluster.Indices

/** Property-based index invariants (SURVEY.md §5.2-3) using scalacheck
  * generators sampled on fixed seeds (no scalatest-plus bridge in the
  * offline cache; Spark jobs are expensive anyway, so a handful of
  * deterministic cases per property is the right trade).
  */
class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  private val pointSetGen: Gen[Seq[(Long, Seq[Double], Int)]] = for {
    n <- Gen.choose(8, 40)
    d <- Gen.choose(2, 6)
    k <- Gen.choose(2, 4)
    cs <- Gen.listOfN(n, Gen.choose(0, k - 1))
    coords <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-1.0, 1.0)))
  } yield cs.zip(coords).zipWithIndex.map { case ((c, xs), i) =>
    (i.toLong, xs.map(_ + c * 5.0): Seq[Double], c)
  }

  /** Sample the generator on deterministic seeds; keep cases with ≥2
    * non-empty clusters (indices undefined otherwise). */
  private def cases(count: Int): Seq[Seq[(Long, Seq[Double], Int)]] =
    (1 to count * 4).iterator
      .flatMap(i => pointSetGen.apply(Gen.Parameters.default, Seed(42L + i)))
      .filter(_.map(_._3).distinct.size >= 2)
      .take(count).toSeq

  private def df(pts: Seq[(Long, Seq[Double], Int)]) =
    pts.toDF("vec_id", "features", "cluster")

  test("driver contract: SparkEntry.entry returns rows on the smoke fixture") {
    // the driver smoke-checks rows > 0 on entry(spark) at sf0.001 —
    // guard the contract here so a refactor can't break it unnoticed
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("Bench.ownMemo names only declared queries (a rename can't silently drop the cold-re-run)") {
    val unknown = graft.Bench.ownMemo -- graft.SparkEntry.queries.keySet
    assert(unknown.isEmpty,
      s"ownMemo entries with no matching declared query: $unknown")
  }

  test("every oracle key is a declared query; every declared query is documented") {
    // an oracle for a renamed/removed query would make the driver's
    // DuckDB pass record a missing-parquet failure
    val orphanOracles = graft.SparkEntry.oracleSql.keySet -- graft.SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without a declared query: $orphanOracles")
    // SURVEY.md §2 is the judge's normative inventory and COVERAGE.md
    // its status ledger — both drifted silently before this pin
    // (COVERAGE held 48 of 179 keys by round 7)
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val survey = read("SURVEY.md")
    val coverage = read("COVERAGE.md")
    val undocumented = graft.SparkEntry.queries.keySet.filterNot(k => survey.contains(s"`$k`"))
    assert(undocumented.isEmpty, s"queries missing from SURVEY.md: $undocumented")
    val uncovered = graft.SparkEntry.queries.keySet.filterNot(k => coverage.contains(s"`$k`"))
    assert(uncovered.isEmpty, s"queries missing from COVERAGE.md: $uncovered")
  }

  test("no main source names org.apache.spark.ml (MLlib stays a test-only reference)") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files.filter(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .contains("org.apache.spark.ml"))
    assert(hits.isEmpty, s"main sources naming org.apache.spark.ml: ${hits.mkString(", ")}")
  }

  test("BD-Silhouette ∈ [-1, 1]; BD-Dunn ≥ 0; DB ≥ 0") {
    cases(3).foreach { pts =>
      val p = Indices.profile(df(pts))
      val sil = p.bdSilhouette.get
      val dunn = p.bdDunn.get
      val db = p.daviesBouldin.get
      assert(sil >= -1.0 - 1e-9 && sil <= 1.0 + 1e-9, s"sil=$sil")
      assert(dunn >= 0.0, s"dunn=$dunn")
      assert(db >= 0.0, s"db=$db")
    }
  }

  test("indices are invariant under row permutation and cluster relabeling") {
    cases(3).foreach { pts =>
      val base = Indices.profile(df(pts))
      val rnd = new scala.util.Random(7)
      val permuted = Indices.profile(df(rnd.shuffle(pts)))
      val relabeled = Indices.profile(df(pts.map { case (i, xs, c) => (i, xs, 9 - c) }))
      val w0 = base.wssse.get
      assert(math.abs(permuted.wssse.get - w0) < 1e-9)
      assert(math.abs(relabeled.wssse.get - w0) < 1e-9)
      val s0 = base.bdSilhouette.get
      assert(math.abs(relabeled.bdSilhouette.get - s0) < 1e-9)
      val m0 = base.mllibSilhouette.get
      assert(math.abs(permuted.mllibSilhouette.get - m0) < 1e-9)
      assert(math.abs(relabeled.mllibSilhouette.get - m0) < 1e-9)
    }
  }

  test("indices are invariant under translation") {
    cases(2).foreach { pts =>
      val base = Indices.profile(df(pts))
      val shifted = Indices.profile(df(pts.map { case (i, xs, c) => (i, xs.map(_ + 37.5), c) }))
      assert(math.abs(base.wssse.get - shifted.wssse.get) < 1e-7)
      assert(math.abs(base.bdDunn.get - shifted.bdDunn.get) < 1e-7)
      assert(math.abs(base.mllibSilhouette.get - shifted.mllibSilhouette.get) < 1e-7)
    }
  }

  test("exact dedup is idempotent (the PRODUCTION query, not an inline mirror)") {
    // the old form recomputed dedup with ad-hoc groupBy aggregations
    // written in the test itself — no production regression could
    // fail it. This one runs the declared query twice: once over a
    // corpus with PLANTED duplicates (adding the vacuity guard
    // revealed the sf0.001 fixture contains NO exact-duplicate texts
    // — the old test had nothing to collapse either), once over the
    // survivor corpus the first pass produced.
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val planted = base.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val dir0 = graft.engine.TempDirs.scratch("dedup-idem-src")
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$dir0/documents.parquet")
    val first = SparkEntry.queries("exact_dedup")(spark, dir0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(first.exists(_._2 > 1),
      "planted duplicates missing — idempotence test would be vacuous")
    val keepers = first.map(_._1).toSet
    val dir = graft.engine.TempDirs.scratch("dedup-idem")
    spark.read.parquet(s"$dir0/documents.parquet")
      .filter(col("doc_id").isInCollection(keepers))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = SparkEntry.queries("exact_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(second.forall(_._2 == 1L),
      "survivor corpus must contain no remaining duplicates")
    assert(second.map(_._1).toSet == keepers,
      "second pass must keep exactly the first pass's keepers")
  }

  test("seeded k-sweep and optimal-k selection are run-to-run deterministic") {
    // `k_sweep`/`optimal_k_select` are no_oracle by design (seeded
    // iterative k-means) — this contract converts their "deterministic
    // given the fixed seed" claim from comment to checked fact (the
    // cms_error_contract pattern): two INDEPENDENT sweep runs (the
    // memo is bypassed — sweepCached would return the first run) must
    // produce bit-identical index tables and the same argbest per
    // criterion. A nondeterministic init, a thread-order-dependent
    // reduction, or an unseeded sample in the fit would diverge here.
    import graft.engine.cluster.KMeansSweep
    val pts = graft.engine.Tables.points(spark, sf0001)
    def run() = KMeansSweep.sweep(pts, 2, 4, 10)
      .select("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin")
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val a = run(); val b = run()
    assert(a.toSeq == b.toSeq,
      s"seeded sweep diverged between runs:\n${a.toSeq}\n${b.toSeq}")
    import spark.implicits._
    def pick(rows: Array[(Int, Double, Double, Double, Double)]) =
      KMeansSweep.optimalK(rows.toSeq.toDF("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin"))
        .select("criterion", "best_k").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(pick(a) == pick(b))
    // batching changes nothing per k: every row of the batched sweep
    // equals, bit for bit, the one-k fit of that k scored alone — on
    // the one-partition fixture and on an 8-partition copy, whose
    // per-partition partials merge on the driver in partition order
    def bits(x: Option[Double]) = x.map(java.lang.Double.doubleToLongBits)
    val split = pts.repartition(8, col("vec_id")).sortWithinPartitions("vec_id")
    assert(split.rdd.getNumPartitions == 8)
    Seq(pts, split).foreach { input =>
      val swept = KMeansSweep.sweep(input, 2, 10).orderBy("k").collect()
      assert(swept.map(_.getInt(0)).toSeq == (2 to 10))
      swept.foreach { r =>
        val k = r.getInt(0)
        val (w, sil, dunn, db) = Indices.allIndices(KMeansSweep.assign(input, k))
        val row = Seq(Some(r.getDouble(1))) ++ (2 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Double]))
        assert(row.map(bits) == Seq(Some(w), sil, dunn, db).map(bits),
          s"k=$k: batched sweep row ${row.mkString(", ")} != one-k fit ${(w, sil, dunn, db)}")
      }
    }
  }

  /** The Spark jobs `f` launches, counted by job group on a listener. */
  private def countJobs(group: String)(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"$group-drained"
    @volatile var jobs = 0
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs += 1
          case Some(`marker`) => drained = true
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      f
      // the bus delivers in order: once the marker job's start arrives,
      // every job of `f` has been counted
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      var waited = 0
      while (!drained && waited < 10000) { Thread.sleep(50); waited += 50 }
      assert(drained, "listener bus did not deliver the marker job")
      jobs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a k = 2..10 sweep launches at most maxIter + 15 Spark jobs (one per step for all k)") {
    // one job per init step and per Lloyd iteration for EVERY k, plus
    // a fixed handful — a return to per-k fits (about 30 jobs per k)
    // breaks this bound many times over
    import graft.engine.cluster.KMeansSweep
    val pts = graft.engine.Tables.points(spark, sf0001)
    pts.count() // the table's first-load checks run outside the count
    val jobs = countJobs("kmeans-job-pin") {
      val rows = KMeansSweep.sweep(pts, 2, 10, maxIter = 20).collect()
      assert(rows.length == 9)
    }
    assert(jobs > 0 && jobs <= 20 + 15, s"the sweep launched $jobs jobs")
  }

  test("the eleven profile-backed index queries launch at most 5 Spark jobs from a cold memo epoch") {
    // the point checkpoint and the profile's two passes; every query is
    // then a local frame over the profile — one DataFrame DAG per
    // query (65 jobs for the first ten) breaks this bound many times over
    val profiled = Seq("wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "calinski_harabasz",
      "xie_beni", "intra_cluster_stats", "inter_centroid_dist", "centroids_from_assignment", "cluster_sizes",
      "silhouette_mllib")
    graft.engine.Tables.points(spark, sf0001).count() // first-load checks outside the count
    val jobs = countJobs("index-job-pin") {
      graft.engine.SessionCache.freshEpoch("index-job-pin") {
        profiled.foreach(q => assert(SparkEntry.queries(q)(spark, sf0001).collect().nonEmpty, q))
      }
    }
    assert(jobs > 0 && jobs <= 5, s"the eleven index queries launched $jobs jobs")
  }

  test("the four ANN recall queries launch at most 48 Spark jobs over warm shared inputs") {
    // each sweep scores its largest candidate surface once and grades
    // every operating point in one aggregation; one union branch per
    // point (69 jobs for these four) breaks this bound
    import graft.engine.sim.Similarity
    Similarity.sampledTruth(spark, sf0001).count()
    Similarity.cellRankedCached(spark, sf0001).count()
    Similarity.lshSignaturesCached(spark, sf0001).count()
    Seq("ann_lsh_topk", "ann_ivf_topk").foreach(q => SparkEntry.queries(q)(spark, sf0001).count())
    val jobs = countJobs("ann-job-pin") {
      Seq("ann_recall", "ann_nprobe_sweep", "lsh_tables_sweep", "ann_sq_rescore_sweep")
        .foreach(q => assert(SparkEntry.queries(q)(spark, sf0001).collect().nonEmpty, q))
    }
    assert(jobs > 0 && jobs <= 48, s"the four recall queries launched $jobs jobs")
  }

  test("the seven dedup-cold memos build in at most 42 Spark jobs from a cold memo epoch") {
    // one per-doc feature checkpoint serves tokens, token arrays,
    // trigram ids, the signatures and the 8-gram set; a checkpoint per
    // artifact plus the 8-gram distinct and re-fan, with a schema
    // inference per table read, took 59, and the 8-gram set as its
    // own fan → explode → checkpoint took 44
    import graft.engine.text.TextOps
    graft.engine.Fan.docs(graft.engine.Tables.documents(spark, sf0001), sf0001).count()
    val memos = Seq[() => org.apache.spark.sql.DataFrame](
      () => TextOps.distinctTokens(spark, sf0001),
      () => TextOps.docTokenArrays(spark, sf0001),
      () => TextOps.docTrigramIdArrays(spark, sf0001),
      () => TextOps.minhashPairs(spark, sf0001, rowsPerBand = 4),
      () => TextOps.minhashTruthCached(spark, sf0001),
      () => TextOps.ngramSetCached(spark, sf0001, 8, Seq("doc_id", "source")),
      () => TextOps.resolvedGroups(spark, sf0001))
    val jobs = countJobs("dedup-job-pin") {
      graft.engine.SessionCache.freshEpoch("dedup-job-pin") {
        memos.foreach(m => assert(m().count() > 0))
      }
    }
    assert(jobs > 0 && jobs <= 42, s"the seven dedup memos launched $jobs jobs")
  }

  test("a second read of a table in one session infers no schema: 0 Spark jobs") {
    graft.engine.Tables.documents(spark, sf0001)
    val jobs = countJobs("schema-pin")(graft.engine.Tables.documents(spark, sf0001))
    assert(jobs == 0, s"the second documents read launched $jobs jobs")
  }

  test("the memoized table schema follows a nanosAsLong flip and an in-place rewrite") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.engine.Tables
    // ts as TIMESTAMP(NANOS): Spark reads it only as a ns-epoch long,
    // and refuses to infer a schema for it with the legacy conf off
    val d = graft.engine.TempDirs.scratch("graft_schema_memo")
    val nanos = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$d/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(nanos).build()
    try w.write(new SimpleGroupFactory(nanos).newGroup().append("event_id", 1L).append("ts", 5000000000L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val asLong = withConf(key, "true")(Tables.table(spark, d, "events"))
    assert(asLong.schema("ts").dataType == LongType)
    assert(withConf(key, "true")(asLong.collect().toSeq.map(_.getLong(1))) == Seq(5000000000L))
    intercept[org.apache.spark.sql.AnalysisException] {
      withConf(key, "false")(Tables.table(spark, d, "events"))
    }
    assert(withConf(key, "true")(Tables.table(spark, d, "events")).schema("ts").dataType == LongType)
    // an in-place rewrite of a directory table with a new column
    Seq(1L).toDF("a").write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("a"))
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$d/t.parquet")
    val rewritten = Tables.table(spark, d, "t")
    assert(rewritten.columns.toSeq == Seq("a", "b") && rewritten.schema("b").dataType == StringType)
  }

  test("assign fails loudly on misnamed columns on EVERY path, including zero rows") {
    // Round-13 ADVICE: the zero-row branch used to build its schema by
    // filtering for literally-named fields, so a misnamed input frame
    // silently produced a filtered-down schema there while every other
    // branch threw. All paths now run the same select.
    import graft.engine.cluster.KMeansSweep
    import spark.implicits._
    val misnamed = Seq.empty[(Long, Seq[Double])].toDF("id", "feats")
    intercept[org.apache.spark.sql.AnalysisException] {
      KMeansSweep.assign(misnamed, k = 3).collect()
    }
    // and the well-named empty frame keeps the exact 3-column contract
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "features")
    val out = KMeansSweep.assign(empty, k = 3)
    assert(out.columns.toSeq == Seq("vec_id", "features", "cluster"))
    assert(out.count() == 0)
  }

  test("the committed oracle pair-window default is 4096 (ConfEnv-independent in this JVM)") {
    // The BETWEEN 1 AND <cap> literals are interpolated from ConfEnv
    // (SPARK_GRAFT_CONF) so the probe gate's hotbucket profile can
    // shrink engine cap and oracle window together. The DRIVER never
    // sets the env, so the shipped oracle bytes must carry the
    // committed 4096 — this pin fails if a session ever leaks an env
    // override into `sbt test`, or if the default drifts from the
    // engine's `graft.neardedup.bucketCap` default.
    assert(!sys.env.contains("SPARK_GRAFT_CONF"),
      "sbt test must not run under SPARK_GRAFT_CONF — the oracle pins below would test the wrong bytes")
    assert(graft.engine.ConfEnv.overrides.isEmpty)
    assert(graft.engine.text.TextOps.oracleBucketCap == "4096")
    Seq("minhash_near_dedup", "minhash_recall_b1r8").foreach { k =>
      assert(SparkEntry.oracleSql(k).contains("BETWEEN 1 AND 4096"),
        s"$k oracle lost the committed 4096 pair window")
    }
    assert(graft.engine.text.TextOps.bucketCap(spark) == 4096,
      "engine default bucketCap drifted from the oracle window")
  }

  test("no query name is declared by two packs (Map ++ is last-wins shadowing)") {
    val total = SparkEntry.queryPacks.map(_.size).sum
    assert(total == SparkEntry.queries.size, {
      val dups = SparkEntry.queryPacks.flatMap(_.keys)
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
      s"${total - SparkEntry.queries.size} shadowed query key(s): ${dups.mkString(", ")}"
    })
  }

  test("sweep leaves a caller-persisted point set cached; releases one it persisted itself") {
    // the ownership contract: a cache the caller owns is never
    // touched — an unpersist inside sweep() would yank it out from
    // under every other reader of the same frame
    import graft.engine.cluster.KMeansSweep
    import org.apache.spark.storage.StorageLevel
    val pts = graft.engine.Tables.points(spark, sf0001)
    val cached = pts.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      KMeansSweep.sweep(cached, 2, 3, 5).collect()
      assert(cached.storageLevel != StorageLevel.NONE,
        "sweep must not unpersist a caller-managed cache")
    } finally cached.unpersist()
    // self-persisted path: the input arrives uncached and must leave
    // uncached, and the sweep's own vector cache is released by the
    // time it returns
    val before = spark.sparkContext.getPersistentRDDs.keySet
    KMeansSweep.sweep(pts, 2, 3, 5).collect()
    assert(pts.storageLevel == StorageLevel.NONE,
      "sweep must not persist the caller's point set")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"sweep must release the cache it created itself: RDDs $leaked")
  }
}
