package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.{SessionCache, Tables}
import graft.engine.cluster.{Indices, KMeansSweep}
import graft.engine.sim.Similarity
import graft.engine.text.TextOps

/** Closed-loop benchmark runner: one client thread calls the engine's
  * public functions in sequence and times each call up to the full
  * materialization of every column of its result (see [[Digest]]),
  * never a `count()`.
  *
  *   Runner --dump-oracle <file>
  *   Runner --workload <name> --data <dir> --rows <input rows> --work <dir>
  *          --seconds <s> --trace 0|1 --oracle <file> --out <file>
  *
  * A run readies the session and the engine warmup, builds the
  * workload's shared artifacts, runs one cold pass and then
  * [[Runner.WarmPasses]] timed warm passes (more if `--seconds` have not
  * gone by), and writes its measurements to `--out` as one JSON object.
  */
object Runner {
  val Cores = 4
  /** Warm passes per run. One keeps a run near 35 s, so 22 runs of each
    * of the three workloads fit in under an hour; most of the run-to-run
    * spread comes from the host, which a second pass in the same run
    * does not average out. */
  val WarmPasses = 1

  /** The declared queries each workload calls. validity-sweep also
    * calls `KMeansSweep.sweep` and `writeReport`; ann-serve's first two
    * queries are part of its one-time build. */
  val ClusterIndexQueries = Seq("wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "calinski_harabasz")
  val TextQueries = Seq("exact_dedup", "minhash_near_dedup", "near_dedup_groups", "dedup_survivors",
    "ngram_jaccard_dedup", "simhash_dedup", "decontaminate_ngram", "minhash_recall", "tf_idf_top_terms")
  val AnnBuildQueries = Seq("ann_lsh_topk", "ann_ivf_topk")
  val SimQueries = Seq("ann_recall", "ann_nprobe_sweep", "lsh_tables_sweep", "ann_filtered_topk",
    "ann_sq_rescore_sweep", "ivf_cell_balance", "cosine_topk", "knn_per_vector")
  val Queries = Map(
    "validity-sweep" -> (ClusterIndexQueries :+ "assign_nearest_centroid"),
    "dedup-cold" -> TextQueries,
    "ann-serve" -> (AnnBuildQueries ++ SimQueries))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    opt.get("dump-oracle") match {
      case Some(path) =>
        // per workload, the oracle SQL of the calls that have one
        write(path, Json.obj(Queries.toSeq.sortBy(_._1).map { case (w, qs) =>
          w -> Json.obj(qs.filter(SparkEntry.oracleSql.contains).map(q => q -> Json.str(SparkEntry.oracleSql(q))))
        }))
      case None => new Runner(opt).run()
    }
  }

  def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** One pass: its seconds, the part of them spent building the dedup
    * SessionCache artifacts, counter deltas (see [[Counters.snapshot]]),
    * per-call seconds, eager and action seconds, Catalyst phase ms and
    * final-plan shuffle exchanges. */
  final case class PassStats(seconds: Double, memoBuild: Double, delta: Array[Long], calls: Map[String, Double],
                             eager: Double, action: Double, phasesMs: Array[Long], exchanges: Long)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark call: `run` executes it and returns a problem with
  * its output, or None when the output checks out. */
final case class Call(name: String, layer: String, run: () => Option[String])

/** A workload: its input table, the calls that build its shared
  * artifacts once, the calls of one pass, and whether each pass runs
  * under a fresh SessionCache epoch. */
final case class Workload(table: String, build: Seq[Call], pass: Seq[Call], freshEpoch: Boolean)

final class Runner(opt: Map[String, String]) {
  import Runner._

  private val t0 = System.nanoTime()
  private val epochAtT0 = System.currentTimeMillis()
  private val work = opt("work")
  private val workload = opt("workload")
  private val trace = opt.getOrElse("trace", "0") == "1"
  private val runId = s"$workload-${ProcessHandle.current().pid()}"
  private val spans = new Spans(runId, t0)
  private val counters = new Counters
  private val phases = new PhaseListener
  private var quotientEdges = 0L

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  private def dir = opt("data")

  // ---- per-call bookkeeping ---------------------------------------
  private var attempted, failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val oracle: Map[String, String] = opt.get("oracle").map { p =>
    scala.io.Source.fromFile(p, "UTF-8").getLines().filter(_.contains('\t'))
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap
  }.getOrElse(Map.empty)
  /** First digest of every call without an oracle: later passes must match it. */
  private val firstDigest = mutable.Map.empty[String, String]
  private var passTag = "build"

  // per-call measurements of the current pass, for the trace metrics
  private val callSeconds = mutable.LinkedHashMap.empty[String, Double]
  private var eagerS, actionS = 0.0
  private var finalExchanges = 0L
  private var resultPhasesMs = Array(0L, 0L, 0L)

  private def check(name: String, d: Digest.Result): Option[String] =
    oracle.get(name) match {
      case Some(want) if want.startsWith("error") => Some(s"oracle query failed: $want")
      case Some(want) => if (want == d.text) None else Some(s"digest ${d.text} != oracle $want")
      case None =>
        val first = firstDigest.getOrElseUpdate(name, d.text)
        if (first == d.text) None else Some(s"digest ${d.text} differs from first pass $first")
    }

  /** Time `df` to full materialization, recording the Catalyst phases
    * and the final plan's shuffle exchanges of its own execution. */
  private def materialize(df: DataFrame, skip: Set[String] = Set.empty): Digest.Result = {
    val ta = System.nanoTime()
    val d = spans("exec.action", "exec")(Digest.of(df, skip))
    actionS += (System.nanoTime() - ta) / 1e9
    if (trace) {
      val qe = df.queryExecution
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
        p.get(k).foreach { s =>
          resultPhasesMs(i) += s.durationMs
          // parent: the eager or action span of this call the phase began in
          val at = (s.startTimeMs - epochAtT0).toDouble
          val parent = spans.all.reverseIterator.find(x => (x.layer == "entry" || x.layer == "exec") &&
            x.start <= at && (x.end >= at || x.end == 0.0)).map(_.id).getOrElse(spans.current)
          spans.add(s"catalyst.$k", "catalyst", parent, s.startTimeMs, s.endTimeMs, epochAtT0)
        }
      }
      finalExchanges += exchanges(qe.executedPlan)
    }
    d
  }

  private def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: ShuffleQueryStageExec => 1L + exchanges(s.plan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1L + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }

  private def query(name: String, layer: String): Call = Call(name, layer, () => {
    val te = System.nanoTime()
    val df = spans("entry.eager", "entry")(SparkEntry.queries(name)(spark, dir))
    eagerS += (System.nanoTime() - te) / 1e9
    check(name, materialize(df))
  })

  /** Build (or, when built, read) a shared SessionCache artifact. */
  private def memo(artifact: String): Call = Call(s"memo.$artifact", "memo", () => {
    val n = accessor(artifact).count()
    if (n > 0) None else Some(s"artifact $artifact is empty")
  })

  /** Accessors of the shared SessionCache artifacts the trace reports on. */
  private val memoAccessor: Seq[(String, () => DataFrame)] = Seq(
    "tokens" -> (() => TextOps.distinctTokens(spark, dir)),
    "tokenArrays" -> (() => TextOps.docTokenArrays(spark, dir)),
    "trigramIds" -> (() => TextOps.docTrigramIdArrays(spark, dir)),
    "pairs_b2r4" -> (() => TextOps.minhashPairs(spark, dir, rowsPerBand = 4)),
    "pairs_b1r8" -> (() => TextOps.minhashPairs(spark, dir, rowsPerBand = 8)),
    "truth" -> (() => TextOps.minhashTruthCached(spark, dir)),
    "ngram8" -> (() => TextOps.ngramSetCached(spark, dir, 8, Seq("doc_id", "source"))),
    "groups" -> (() => TextOps.resolvedGroups(spark, dir)),
    "annTruth" -> (() => Similarity.sampledTruth(spark, dir)),
    "cellRank" -> (() => Similarity.cellRankedCached(spark, dir)),
    "lshSig" -> (() => Similarity.lshSignaturesCached(spark, dir)))
  private def accessor(artifact: String): DataFrame = memoAccessor.find(_._1 == artifact).get._2()

  /** Job group -> span of the traced call that set it. */
  private val callSpans = mutable.Map.empty[String, Int]

  private def call(c: Call): Double = {
    attempted += 1
    val group = s"$runId/$passTag/${c.name}"
    if (spans.enabled) callSpans(group) = spans.all.size
    spark.sparkContext.setJobGroup(group, c.name, interruptOnCancel = false)
    val ts = System.nanoTime()
    val problem =
      try spans(s"call.${c.name}", c.layer)(c.run())
      catch { case e: Throwable => Some(s"exception: $e".replace('\n', ' ').take(300)) }
    val dt = (System.nanoTime() - ts) / 1e9
    spark.sparkContext.clearJobGroup()
    callSeconds(c.name) = callSeconds.getOrElse(c.name, 0.0) + dt
    if (c.layer == "memo") memoBuildS(c.name.stripPrefix("memo.")) = dt
    problem.foreach { p =>
      failed += 1
      failures += s"$passTag ${c.name}: $p"
      System.err.println(s"[perfbench] FAIL $passTag ${c.name}: $p")
    }
    dt
  }

  // ---- workloads ---------------------------------------------------
  /** The SessionCache artifacts the dedup-cold queries read, built first
    * in each pass (under its fresh epoch) so their build time is
    * measured apart from the queries over them. `pairs_b1r8` is not
    * read by these queries and is built only by the traced probe. */
  private val textMemos = Seq("tokens", "tokenArrays", "trigramIds", "pairs_b2r4", "truth", "ngram8", "groups")
  private val annMemos = Seq("annTruth", "cellRank", "lshSig")
  private var points: DataFrame = _
  private var sweepDf: DataFrame = _
  private var sweepOverlap = 0.0

  private lazy val spec: Workload = workload match {
    case "validity-sweep" =>
      val build = Call("points", "cluster", () => {
        points = Tables.points(spark, dir).persist()
        if (points.count() > 0) None else Some("empty point set")
      })
      val sweep = Call("k_sweep", "cluster", () => {
        val ts = System.currentTimeMillis()
        sweepDf = KMeansSweep.sweep(points, 2, 10)
        val wall = math.max(1L, System.currentTimeMillis() - ts)
        val rows = sweepDf.collect()
        sweepOverlap = rows.map(_.getLong(5)).sum.toDouble / wall
        val ks = rows.map(_.getInt(0)).toSeq.sorted
        val finite = rows.forall(r => (1 to 4).forall(i => !r.isNullAt(i) && !r.getDouble(i).isNaN &&
          !r.getDouble(i).isInfinite))
        if (ks != (2 to 10)) Some(s"sweep rows for k = ${ks.mkString(",")}, want 2..10")
        else if (!finite) Some("sweep has a NULL or non-finite index")
        else check("k_sweep", materialize(sweepDf, Set("t_ms")))
      })
      val report = Call("write_report", "cluster", () => {
        val path = s"$work/report"
        KMeansSweep.writeReport(sweepDf, path)
        val back = spark.read.parquet(path).orderBy("k")
        val d = materialize(back, Set("t_ms"))
        if (firstDigest.get("k_sweep").contains(d.text)) None
        else Some(s"report digest ${d.text} != sweep ${firstDigest.get("k_sweep")}")
      })
      val pass = Seq(sweep, report) ++ Queries(workload).map(query(_, "cluster"))
      Workload("embeddings", Seq(build), pass, freshEpoch = true)
    case "dedup-cold" =>
      val pass = textMemos.map(memo) ++ TextQueries.map(query(_, "text"))
      Workload("documents", Nil, pass, freshEpoch = true)
    case "ann-serve" =>
      val build = annMemos.map(memo) ++ AnnBuildQueries.map(query(_, "sim"))
      val pass = SimQueries.map(query(_, "sim"))
      Workload("embeddings", build, pass, freshEpoch = false)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- traced-pass measurements ------------------------------------
  private val memoBuildS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var memoHitS, memoStoredMb = 0.0

  private def storedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def pass(tag: String, traced: Boolean): PassStats = {
    passTag = tag
    spans.enabled = traced
    callSeconds.clear()
    eagerS = 0.0; actionS = 0.0; finalExchanges = 0L; resultPhasesMs = Array(0L, 0L, 0L)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val before = counters.snapshot
    val ph0 = Array(phases.analysisMs, phases.optimizationMs, phases.planningMs)
    var seconds = 0.0
    def body(): Unit = spans(s"pass.$tag", "pass") {
      seconds += spec.pass.map(call).sum
      if (traced) {
        val hits = if (workload == "dedup-cold") textMemos else if (workload == "ann-serve") annMemos else Nil
        val th = System.nanoTime()
        spans("memo.hit", "memo")(hits.foreach(accessor))
        memoHitS = (System.nanoTime() - th) / 1e9
        memoStoredMb = storedMb
      }
      // before an epoch exit releases the pass's memos
      recordHeap()
    }
    if (spec.freshEpoch) SessionCache.freshEpoch(s"$runId-$tag")(body()) else body()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val after = counters.snapshot
    val ph1 = Array(phases.analysisMs, phases.optimizationMs, phases.planningMs)
    spans.enabled = false
    PassStats(seconds, textMemos.map(memoBuildS).sum, after.zip(before).map { case (a, b) => a - b },
      callSeconds.toMap,
      eagerS, actionS, Array.tabulate(3)(i => ph1(i) - ph0(i) + resultPhasesMs(i)), finalExchanges)
  }

  // ---- heap ----------------------------------------------------------
  private var peakHeapAfterGc = 0L

  /** Heap retained at the end of a pass, memos included. The second
    * full collection runs after the context cleaner has dropped the
    * blocks the first one found unreachable. */
  private def recordHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapAfterGc = math.max(peakHeapAfterGc, used)
  }

  // ---- setup ---------------------------------------------------------
  /** The engine's first-touch warmup: whole-stage codegen, a shuffle, a
    * broadcast join, a window and a higher-order function on a 100-row
    * range, plus the engine's function registrations. No input data. */
  private def warmup(): Unit = {
    import org.apache.spark.sql.expressions.Window
    graft.engine.expr.GraftFunctions.register(spark)
    val t = spark.range(100).select(col("id"), (col("id") % 7).as("k"),
      transform(sequence(lit(1), lit(4)), i => i * col("id")).as("arr"))
    t.join(broadcast(t.groupBy("k").agg(avg("id").as("m"))), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(desc("id"))))
      .filter(col("rn") <= 2)
      .select(aggregate(col("arr"), lit(0L), (a, x) => a + x).as("s"))
      .agg(sum("s")).collect()
  }

  def run(): Unit = {
    if (trace) {
      val err = System.err
      System.setErr(new java.io.PrintStream(new StderrScan(err, line => {
        val m = "quotient=(\\d+) edges".r.findFirstMatchIn(line)
        m.foreach(x => quotientEdges = x.group(1).toLong)
      }), true, "UTF-8"))
    }
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(counters)
    warmup()
    val readyEpochMs = System.currentTimeMillis()
    if (trace) spark.listenerManager.register(phases)
    val inputRows = opt("rows").toLong

    passTag = "build"
    spans.enabled = trace
    val bStart = System.nanoTime()
    spans("build", "build")(spec.build.foreach(call))
    val buildS = (System.nanoTime() - bStart) / 1e9
    spans.enabled = false

    val first = pass("first", traced = false)
    val seconds = opt.getOrElse("seconds", "1").toDouble
    val warm = mutable.ArrayBuffer.empty[PassStats]
    val traced = mutable.ArrayBuffer.empty[PassStats]
    val wStart = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - wStart) / 1e9
    // a fixed number of warm passes (the JIT is still warming between
    // them, so a time-dependent count would move pass_s), then more
    // until `seconds` have gone by. Traced runs first settle the JIT
    // with one untraced pass, then time traced and untraced passes in
    // the order T U U T, so warming between them cancels out of the
    // tracing overhead.
    if (trace) {
      i += 1
      pass(s"s$i", traced = false)
    }
    if (trace) Seq(true, false, false, true).foreach { t =>
      i += 1
      if (t) traced += pass(s"t$i", traced = true) else warm += pass(s"w$i", traced = false)
    }
    while (warm.size < WarmPasses || elapsed < seconds) {
      i += 1
      warm += pass(s"w$i", traced = false)
    }

    val passS = median(warm.map(_.seconds).toSeq)
    val out = mutable.ArrayBuffer[(String, String)](
      "ready_epoch_ms" -> readyEpochMs.toString,
      "input_rows" -> inputRows.toString,
      // dedup-cold rebuilds its shared artifacts in every pass
      "build_s" -> Json.num(if (workload == "dedup-cold") median(warm.map(_.memoBuild).toSeq) else buildS),
      "first_pass_s" -> Json.num(first.seconds),
      "pass_s" -> Json.num(passS),
      "passes" -> warm.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "rows_per_s" -> Json.num(inputRows / passS),
      "shuffle_mb" -> Json.num(median(warm.map(_.delta(6) / 1e6).toSeq)),
      "peak_heap_mb" -> Json.num(peakHeapAfterGc / 1e6),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"))
    if (trace) out += "layers" -> Json.obj(layerMetrics(warm.toSeq, traced.toSeq).map {
      case (k, v) => k -> Json.num(v)
    })
    write(opt("out"), Json.obj(out.toSeq))
    if (trace) spans.writeJsonLines(s"$work/spans-$runId.jsonl")
    spark.stop()
  }

  // ---- per-layer metrics (traced runs) --------------------------------
  private def layerMetrics(warm: Seq[PassStats], traced: Seq[PassStats]): Seq[(String, Double)] = {
    // the traced pass whose time is the median stands for all of them
    val t = traced.sortBy(_.seconds).apply(traced.size / 2)
    val d = t.delta
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("trace.pass_s") = median(traced.map(_.seconds))
    m("trace.untraced_pass_s") = median(warm.map(_.seconds))
    m("trace.overhead_s") = m("trace.pass_s") - m("trace.untraced_pass_s")
    m("entry.eager_s") = t.eager
    m("catalyst.analysis_s") = t.phasesMs(0) / 1e3
    m("catalyst.optimization_s") = t.phasesMs(1) / 1e3
    m("catalyst.planning_s") = t.phasesMs(2) / 1e3
    m("exec.action_s") = t.action
    m("exec.jobs") = d(0).toDouble
    m("exec.stages") = d(1).toDouble
    m("exec.tasks") = d(2).toDouble
    m("exec.task_cpu_s") = d(4) / 1e9
    m("exec.gc_s") = d(5) / 1e3
    m("exec.slot_util") = d(3) / 1e3 / (t.seconds * Cores)
    m("exec.shuffle_write_mb") = d(6) / 1e6
    m("exec.shuffle_read_mb") = d(7) / 1e6
    m("exec.spill_mb") = d(8) / 1e6
    m("exec.final_exchanges") = t.exchanges.toDouble
    memoAccessor.foreach { case (a, _) => m(s"memo.build_s.$a") = memoBuildS(a) }
    m("memo.hit_s") = memoHitS
    m("memo.stored_mb") = memoStoredMb
    val c = t.calls
    m("cluster.sweep_s") = c.getOrElse("k_sweep", 0.0)
    m("cluster.sweep_overlap") = if (workload == "validity-sweep") sweepOverlap else 0.0
    ClusterIndexQueries.foreach(q => m(s"cluster.index_s.$q") = c.getOrElse(q, 0.0))
    TextQueries.foreach(q => m(s"text.call_s.$q") = c.getOrElse(q, 0.0))
    SimQueries.foreach(q => m(s"sim.call_s.$q") = c.getOrElse(q, 0.0))
    m ++= probes()
    spans.selfSeconds.foreach { case (l, s) => if (l != "job") m(s"self_s.$l") = s }
    Seq("pass", "build", "entry", "catalyst", "exec", "tables", "memo", "cluster", "expr", "text", "sim")
      .foreach(l => m.getOrElseUpdate(s"self_s.$l", 0.0))
    m.toSeq
  }

  private def timedS(f: => Unit): Double = {
    val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
  }

  /** Layer probes run once after the passes, each in its own span. */
  private def probes(): Seq[(String, Double)] = {
    spans.enabled = true
    val m = mutable.LinkedHashMap.empty[String, Double]
    val table = spec.table
    var rows = 0L
    m("tables.scan_s") = spans("tables.scan", "tables")(timedS {
      val df = if (table == "documents") Tables.documents(spark, dir) else Tables.embeddings(spark, dir)
      rows = Digest.of(df).rows
    })
    m("tables.rows") = rows.toDouble

    // fit vs index time of the sweep, one k after another
    var fit, idx = 0.0
    if (workload == "validity-sweep") spans("cluster.decompose", "cluster") {
      (2 to 10).foreach { k =>
        var assigned: DataFrame = null
        fit += spans(s"cluster.fit.k$k", "cluster")(timedS {
          assigned = KMeansSweep.assign(points, k).persist()
        })
        idx += spans(s"cluster.indices.k$k", "cluster")(timedS(Indices.allIndices(assigned)))
        assigned.unpersist()
      }
    }
    m("cluster.fit_s") = fit
    m("cluster.indices_s") = idx

    // fused sq_dist kernel vs its higher-order-function definition
    var sq, hof, ng = 0.0
    if (table == "embeddings") {
      val pts = Tables.points(spark, dir)
      // every point against every point as a centroid, so the kernel
      // and not the job around it dominates
      val cents = broadcast(pts.select(col("features").as("c")))
      val cross = pts.crossJoin(cents)
      val kernel = cross.select(sum(call_function("sq_dist", col("features"), col("c"))))
      val hofForm = cross.select(sum(aggregate(
        zip_with(col("features"), col("c"), (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)))
      val extra = spark.experimental.extraOptimizations
      def best(f: => Unit) = (1 to 3).map(_ => timedS(f)).min
      sq = spans("expr.sq_dist", "expr")(best(kernel.collect()))
      spark.experimental.extraOptimizations = extra.filterNot(_ == graft.engine.expr.FuseVectorKernels)
      try hof = spans("expr.sq_dist_hof", "expr")(best(hofForm.collect()))
      finally spark.experimental.extraOptimizations = extra
    }
    if (table == "documents") {
      // twenty copies of the corpus, so the kernel and not the job dominates
      val docs = Tables.documents(spark, dir).crossJoin(spark.range(20))
      val q = docs.select(sum(size(call_function("ngram_fold_ids", split(col("text"), " "), lit(3), lit(8)))))
      ng = spans("expr.ngram_fold", "expr")((1 to 3).map(_ => timedS(q.collect())).min)
    }
    m("expr.sq_dist_s") = sq
    m("expr.sq_dist_hof_s") = hof
    m("expr.ngram_fold_s") = ng

    // the one text artifact the dedup-cold queries do not read
    if (workload == "dedup-cold") SessionCache.freshEpoch(s"$runId-probe") {
      m("memo.build_s.pairs_b1r8") =
        spans("call.memo.pairs_b1r8", "memo")(timedS(accessor("pairs_b1r8").count()))
    }

    // text: candidate and true pairs from the engine's own recall report
    var cand, tp = 0.0
    if (workload == "dedup-cold") {
      val r = SparkEntry.queries("minhash_recall")(spark, dir).collect().head
      cand = r.getAs[Long]("n_cand").toDouble
      tp = r.getAs[Long]("n_tp").toDouble
    }
    m("text.candidate_pairs") = cand
    m("text.true_pairs") = tp
    m("text.pair_precision") = if (cand > 0) tp / cand else 0.0
    m("text.quotient_edges") = quotientEdges.toDouble

    var cpq, recall = 0.0
    if (workload == "ann-serve") {
      val np2 = SparkEntry.queries("ann_nprobe_sweep")(spark, dir).collect()
        .find(_.getAs[Long]("nprobe") == 2L)
      np2.foreach(r => cpq = r.getAs[Number]("n_candidates").doubleValue / r.getAs[Number]("n_queries").doubleValue)
      val rs = SparkEntry.queries("ann_recall")(spark, dir).collect()
      recall = rs.map(_.getAs[Double]("recall_at_1")).sum / math.max(1, rs.length)
    }
    m("sim.candidates_per_query") = cpq
    m("sim.recall_at_1") = recall

    // Spark jobs of traced calls, linked to the call by its job group
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.synchronized {
      counters.jobLog.foreach { case (id, group, s, e) =>
        callSpans.get(group).foreach(parent => spans.add(s"job.$id", "job", parent, s, e, epochAtT0))
      }
    }
    spans.enabled = false
    m.toSeq
  }
}
