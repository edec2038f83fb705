package graft.engine.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** The reference's flagship entry point (SURVEY.md §2.1 #11–#15, §3.1
  * EP1–EP3): K-Means over a k-sweep with all four validity indices per
  * k, plus optimal-k selection and a report sink.
  *
  * The sweep fits EVERY k in one batched loop ([[BatchKMeans]], MLlib's
  * algorithm and defaults): the point set becomes dense vectors once,
  * persisted MEMORY_AND_DISK for the sweep and released after it — the
  * reference's single most important performance lever
  * (`RDD.cache()`) — and each init step or Lloyd iteration is ONE job
  * over that cache for every k still moving, so the cache is scanned
  * about maxIter + 8 times per sweep, not once per (k, iteration). The
  * fixed seed makes every fit deterministic (never oracle-checked —
  * K-Means is iteration-order dependent; SURVEY §7.5).
  *
  * The index math is [[Indices.profilesByK]]: one call over the
  * k-keyed assignments profiles every k in two passes, and each k's
  * four indices are read off its profile.
  */
object KMeansSweep {

  /** Fit K-Means for one k — the one-k case of the sweep's batched
    * kernel; returns (vec_id, features, cluster) with each point at its
    * nearest final center. An empty input yields an empty assignment;
    * k above the point count fits at most n distinct centers. */
  def assign(points: DataFrame, k: Int, maxIter: Int = 20, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"assign needs k >= 1, got $k") // empty OUTPUT is the
    // empty-INPUT convention only — an unsatisfiable request stays loud
    // one select for every path (round-13 ADVICE): a caller passing
    // misnamed columns fails with the same loud AnalysisException on
    // EVERY path, including the empty one
    val out = points.select(col("vec_id"), col("features"))
    BatchKMeans.withVectors(out)(BatchKMeans.fit(_, _ => Seq(k), maxIter, seed)) match {
      case Seq(f) =>
        val centers = f.centers
        val nearest = udf((v: Seq[Double]) => BatchKMeans.nearest(centers, v.toArray))
        out.withColumn("cluster", nearest(col("features")))
      case _ => out.withColumn("cluster", lit(0)).limit(0)
    }
  }

  /** One row per k: (k, wssse, bd_silhouette, bd_dunn, davies_bouldin,
    * t_ms). All k fit in one batch; `t_ms` is the wall-clock ms from
    * the start of the sweep until that k stopped (converged or reached
    * `maxIter`). */
  def sweep(points: DataFrame, kMin: Int, kMax: Int,
            maxIter: Int = 20, seed: Long = 42L): DataFrame = {
    require(kMin <= kMax && kMin >= 1,
      s"k-sweep needs a non-empty range of k >= 1, got [$kMin, $kMax]")
    val spark = points.sparkSession
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val rows = BatchKMeans.withVectors(points) { vecs =>
      // degenerate in, defined out: only k <= n is fittable, so the
      // swept range CLAMPS to [kMin, min(kMax, n)] — empty when even
      // kMin is unsatisfiable (n < kMin; covers the empty corpus)
      val fits = BatchKMeans.fit(vecs, n => kMin to math.min(kMax.toLong, n).toInt, maxIter, seed)
      // sil/dunn/db are Option: NULL when the fit degenerates
      // (constant corpus -> one non-empty cluster)
      val profiles = BatchKMeans.withAssignments(vecs, fits)(Indices.profilesByK)
      fits.map { f =>
        val p = profiles(f.k)
        (f.k, p.wssse.get, p.bdSilhouette, p.bdDunn, p.daviesBouldin, f.stoppedAt - t0)
      }
    }
    rows.toDF("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "t_ms")
  }

  /** Sweep results memoized per (session, sfDir, range) so the
    * declared `k_sweep` and `optimal_k_select` queries share one run.
    * The cache stores the driver-local ROWS, not a DataFrame (rows
    * survive any session and rebuild cheaply into a frame). A
    * SessionCache — not a plain map — so the bench's throwaway-epoch
    * entries are EVICTED at epoch exit like every other memo (the
    * plain-CHM form accumulated one orphaned row set per cold attempt
    * forever, and a reused epoch tag would have warm-read it). */
  private val sweepCache =
    new graft.engine.SessionCache[Seq[(Int, Double, Option[Double], Option[Double], Option[Double], Long)]]
  def sweepCached(points: DataFrame, key: String, kMin: Int, kMax: Int,
                  maxIter: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    sweepCache.get(spark, s"$key|$kMin|$kMax|$maxIter")(
        sweep(points, kMin, kMax, maxIter).collect().toSeq
          .map(r => (r.getInt(0), r.getDouble(1), opt(r, 2),
            opt(r, 3), opt(r, 4), r.getLong(5))))
      .toDF("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "t_ms")
  }

  /** Optimal k per criterion from a sweep table (#14): argmax
    * BD-Silhouette / argmax BD-Dunn / argmin DB / elbow (max second
    * difference) on WSSSE. */
  def optimalK(sweepDf: DataFrame): DataFrame = {
    val spark = sweepDf.sparkSession
    import spark.implicits._
    val rows = sweepDf.select("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin")
      .orderBy("k").collect() // k_max − k_min + 1 rows: driver-side is O(k)
    // empty sweep (empty corpus upstream): no best k is defined —
    // return the empty criterion table rather than aborting
    if (rows.isEmpty)
      return Seq.empty[(String, Option[Int], Option[Double])]
        .toDF("criterion", "best_k", "value").orderBy("criterion")
    // an index may be NULL for some k (undefined on a degenerate
    // fit, e.g. a constant corpus collapsing to one cluster): the
    // argbest ranges over the DEFINED entries; all-undefined => a
    // (criterion, NULL, NULL) row, keeping the criterion set stable
    def best(idx: Int, maximize: Boolean): (Option[Int], Option[Double]) = {
      val vals = rows.collect {
        case r if !r.isNullAt(idx) => (r.getInt(0), r.getDouble(idx))
      }
      if (vals.isEmpty) (None, None)
      else {
        val pick = if (maximize) vals.maxBy(v => (v._2, -v._1))
          else vals.minBy(v => (v._2, v._1.toDouble))
        (Some(pick._1), Some(pick._2))
      }
    }
    val wssse = rows.map(r => (r.getInt(0), r.getDouble(1)))
    val elbow =
      if (wssse.length < 3) (wssse.head._1, 0.0)
      else wssse.sliding(3).map { case Array((_, a), (k, b), (_, c)) => (k, (a - b) - (b - c)) }
        .maxBy(v => (v._2, -v._1))
    val bSil = best(2, maximize = true)
    val bDunn = best(3, maximize = true)
    val bDb = best(4, maximize = false)
    Seq(
      ("bd_silhouette_max", bSil._1, bSil._2),
      ("bd_dunn_max", bDunn._1, bDunn._2),
      ("davies_bouldin_min", bDb._1, bDb._2),
      ("wssse_elbow", Some(elbow._1): Option[Int], Some(elbow._2): Option[Double]),
    ).toDF("criterion", "best_k", "value").orderBy("criterion")
  }

  /** #15 report sink: reference writes per-k CSV; we write a single
    * parquet (and optionally CSV for parity). */
  def writeReport(sweepDf: DataFrame, path: String, alsoCsv: Boolean = false): Unit = {
    sweepDf.coalesce(1).write.mode("overwrite").parquet(path)
    if (alsoCsv)
      sweepDf.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(path + "_csv")
  }

  /** One report write per (session, sfDir), memoized like the sink
    * roundtrips — the report files are scratch output under /tmp. */
  private val reportCache = new graft.engine.SessionCache[String]

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #15 report sink as a DRIVER-EXERCISED roundtrip (round-5 verdict,
    // Next-round #5): every other sink grew a `*_roundtrip` oracle
    // query while `writeReport` stayed spec-only, leaving the flagship
    // report's write path unguarded against the drop/mangle/type bug
    // class the roundtrips catch. The k-means sweep itself is not
    // oracle-able (seeded iterative), so the report payload is the
    // DETERMINISTIC index table instead: the four validity indices
    // recomputed on the fixed ground-truth assignment — exactly the
    // #5–#10 recompute path the oracle already reproduces in SQL.
    // Write through writeReport (parquet + the reference's CSV leg),
    // read the parquet back, order totally. A roundtrip that drops a
    // row, mangles the index name, or misreads the double
    // hash-mismatches.
    "index_report_roundtrip" -> ((s, d) => {
      val path = reportCache.get(s, s"$d|report") {
        // the four indices of the memoized ground-truth profile — the
        // values the per-index queries emit — as a 4-row local frame
        import s.implicits._
        val p = ClusterQueries.profile(s, d)
        val report = Seq("wssse" -> p.wssse, "bd_silhouette" -> p.bdSilhouette,
            "bd_dunn" -> p.bdDunn, "davies_bouldin" -> p.daviesBouldin)
          .toDF("index_name", "value")
          .select(col("index_name"), round(col("value"), 6).as("value"))
        // TempDirs-registered: fresh-epoch bench attempts evict the
        // reportCache entry, so every cold re-timing writes a new
        // report dir — without the exit hook each one is an orphan
        val out = graft.engine.TempDirs.scratch("graft_report") + "/report"
        writeReport(report, out, alsoCsv = true)
        out
      }
      s.read.parquet(path).orderBy("index_name")
    }),

    // #12 single-k train (k = true cluster count, fixed seed)
    "kmeans_train" -> ((s, d) =>
      assign(Tables.points(s, d), k = 10)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
        .orderBy("cluster")),

    // #13 the flagship sweep, k ∈ [2,6]
    "k_sweep" -> ((s, d) =>
      sweepCached(Tables.points(s, d), d, 2, 6, 10).orderBy("k")),

    // #14 optimal-k selection over the sweep (shares the memoized run)
    "optimal_k_select" -> ((s, d) =>
      optimalK(sweepCached(Tables.points(s, d), d, 2, 6, 10))),

    // The k-sweep DETERMINISM contract as an ORACLE-CHECKED query
    // (round-7 verdict, Next-round #5 — the cms_error_contract
    // pattern applied to the last spec-only shadow): `k_sweep` and
    // `optimal_k_select` are no_oracle by design (seeded iterative
    // k-means), and their "deterministic given the fixed seed" claim
    // lived only in InvariantsSpec. This query runs a SECOND,
    // INDEPENDENT sweep in-session (bypassing the memo — sweepCached
    // would hand back the first run) and declares the equality
    // verdict: bit-identical per-k index tables and the same argbest
    // per criterion. A nondeterministic init, a thread-order-dependent
    // reduction, or an unseeded sample in the fit flips a TRUE to
    // FALSE and hash-mismatches the constant oracle. n_rows guards
    // the sweep's row universe (k ∈ [2,6] → 5 rows) so a silently
    // truncated sweep can't vacuously agree with itself.
    // DEFERRED CONTRACT (round-9 verdict #4): the verdict still comes
    // from real executions — but they run at the scan's
    // planInputPartitions (first execution, driver-side) via
    // [[graft.engine.source.DeferredContractSource]], so BUILDING this
    // DataFrame is pure plan construction and plan-only tools
    // (graft.tools.Plans) no longer pay two k-means sweeps to
    // look at it. The thunk is registered below at object init.
    "k_sweep_determinism_contract" -> ((s, d) =>
      s.read.format(graft.engine.source.DeferredContractSource.FORMAT)
        .option("contract", "k_sweep_determinism").option("sfDir", d).load()),
  )

  {
    import org.apache.spark.sql.types._
    graft.engine.source.DeferredContractSource.register("k_sweep_determinism",
      StructType(Seq(
        StructField("k_lo", IntegerType, nullable = false),
        StructField("k_hi", IntegerType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("sweep_identical", BooleanType, nullable = false),
        StructField("argbest_identical", BooleanType, nullable = false)))) { (s, d) =>
      val pts = Tables.points(s, d)
      def table(df: DataFrame) =
        df.select("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin")
          .orderBy("k").collect()
          .map(r => (r.getInt(0), r.getDouble(1), Option(r.get(2)),
            Option(r.get(3)), Option(r.get(4)))).toSeq
      def best(df: DataFrame) =
        optimalK(df).select("criterion", "best_k").collect()
          .map(r => (r.getString(0), Option(r.get(1)))).toSeq
      // The two sweeps run CONCURRENTLY on two threads, each over its
      // own vector cache: their init and Lloyd jobs interleave on the
      // scheduler, so a thread-order-dependent reduction or an unseeded
      // sample flips the verdict under contention too, not only run to
      // run — the property the kernel's ordered merges must keep.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val fMemo = Future {
          val m = sweepCached(pts, d, 2, 6, 10); (table(m), best(m))
        }
        val fFresh = Future {
          val f = sweep(pts, 2, 6, 10); (table(f), best(f))
        }
        // await BOTH legs (as Try) before either failure is rethrown:
        // the contract never returns while a sweep is still running
        val tMemo = Await.ready(fMemo, Duration.Inf).value.get
        val tFresh = Await.ready(fFresh, Duration.Inf).value.get
        val (a, bestMemo) = tMemo.get
        val (b, bestFresh) = tFresh.get
        Seq(Seq(2, 6, a.length.toLong, a == b, bestMemo == bestFresh))
      } finally pool.shutdown()
    }
  }

  /** The two oracle-checked queries of this pack: the report roundtrip
    * (its payload is the ground-truth index recompute) and the sweep's
    * determinism verdict. `kmeans_train`, `k_sweep` and
    * `optimal_k_select` have none (seeded iterative k-means). */
  val oracles: Map[String, String] = Map(
    // the report payload is the deterministic #5–#10 index recompute,
    // so the oracle is the same SQL the per-index queries use, stacked
    // into the report's (index_name, value) shape.
    "index_report_roundtrip" ->
      s"""WITH ${ClusterQueries.PT},
         |${ClusterQueries.OWN},
         |${ClusterQueries.CDIST},
         |sil_d AS (SELECT p.vec_id, p.label, ctr.cluster,
         |  SQRT(SUM((p.v - ctr.c) * (p.v - ctr.c))) AS dd
         |  FROM pt p JOIN ctr ON p.i = ctr.i GROUP BY 1, 2, 3),
         |sil_ab AS (SELECT vec_id,
         |  MIN(CASE WHEN label = cluster THEN dd END) AS a,
         |  MIN(CASE WHEN label <> cluster THEN dd END) AS b
         |  FROM sil_d GROUP BY 1),
         |db_s AS (SELECT cluster, AVG(SQRT(d2)) AS mean_dist FROM own GROUP BY 1),
         |db_dij AS (SELECT ci, cj, dist FROM cdist
         |  UNION ALL SELECT cj AS ci, ci AS cj, dist FROM cdist),
         |db_r AS (SELECT db_dij.ci, MAX((si.mean_dist + sj.mean_dist) / db_dij.dist) AS rmax
         |  FROM db_dij JOIN db_s si ON si.cluster = db_dij.ci
         |  JOIN db_s sj ON sj.cluster = db_dij.cj
         |  WHERE db_dij.dist > 0 GROUP BY 1)
         |SELECT index_name, value FROM (
         |  SELECT 'wssse' AS index_name, ROUND(SUM(d2), 6) AS value FROM own
         |  UNION ALL SELECT 'bd_silhouette',
         |    ROUND(AVG(CASE WHEN GREATEST(a, b) > 0
         |      THEN (b - a) / GREATEST(a, b) END), 6) FROM sil_ab
         |  UNION ALL SELECT 'bd_dunn',
         |    ROUND(CASE WHEN (SELECT MAX(SQRT(d2)) FROM own) > 0
         |      THEN (SELECT MIN(dist) FROM cdist)
         |        / (SELECT MAX(SQRT(d2)) FROM own) END, 6)
         |  UNION ALL SELECT 'davies_bouldin', ROUND(AVG(rmax), 6) FROM db_r
         |) ORDER BY index_name""".stripMargin,

    // the determinism contract's oracle is the constant verdict row
    // (the cms_error_contract pattern): the engine computes the
    // booleans from two independent seeded sweeps, DuckDB states what
    // they must be — any nondeterminism in the k-means fit chain lands
    // as a hash mismatch on this row.
    // n_rows derives from the (gated) corpus: the sweep clamps its
    // range to [2, min(6, n)] (only k <= n is fittable), so rows =
    // min(6, n) - 1 when n >= 2, else 0 — 5 on every real fixture
    "k_sweep_determinism_contract" ->
      """SELECT CAST(2 AS INT) AS k_lo, CAST(6 AS INT) AS k_hi,
        |  CAST((SELECT CASE WHEN COUNT(*) >= 2
        |    THEN LEAST(6, COUNT(*)) - 1 ELSE 0 END
        |    FROM embeddings) AS BIGINT) AS n_rows,
        |  TRUE AS sweep_identical, TRUE AS argbest_identical""".stripMargin,
  // the sweep/report queries read Tables.points = cleanVectors —
  // gate the oracles on the same vector universe
  ).view.mapValues(graft.engine.Tables.gateEmbeddingsSql).toMap
}
