package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import graft.SparkEntry

/** The one plan tool: executes declared queries and reports the shape
  * of each FINAL physical plan.
  *
  * Every key runs through `queryExecution.toRdd`, so AQE finalizes the
  * plan (the initial plan overcounts: exchange reuse collapses
  * duplicate scans only at execution) and no rows reach the driver.
  * A shape row counts operators of the final plan only, subqueries
  * included: parquet scans, shuffle exchanges, each join strategy and
  * Sorts. `plans/shapes.tsv` is the committed table of these rows for
  * the whole surface at sf0.001, and `ScanAuditSpec` recomputes it with
  * [[shape]] in the same [[session]] and diffs the two.
  *
  * Usage: runMain graft.tools.Plans <sfDir> [key ...]
  *  - with keys: each key's final plan, then its shape row;
  *  - without:   the shape table for every declared query and builder,
  *               carrying each row's `why` text and any still-admitted
  *               range over from `plans/shapes.tsv`, so redirecting the
  *               output there regenerates the committed file.
  * Exits 1 if any key fails (unknown, or its query throws).
  */
object Plans extends AdaptiveSparkPlanHelper {

  /** Checkpoint-hidden BUILDER plans: the declared similarity plans
    * show only `Scan ExistingRDD` where they read a memoized
    * checkpoint — these pseudo-queries are the builder plans
    * themselves: the ANN answers, the cell ranking, the one
    * embeddings scan under every similarity query, the MinHash
    * candidate pairs (b=2 × r=4) every near-dup consumer reads, and
    * the exact Jaccard truth the MinHash recall queries read. The
    * `builder_` prefix keeps them apart from declared queries; they
    * are not part of the bench or oracle surface. */
  val builders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "builder_ann_lsh" -> ((s, d) => graft.engine.sim.Similarity.annLshPlan(s, d)),
    "builder_ann_ivf" -> ((s, d) => graft.engine.sim.Similarity.annIvfPlan(s, d)),
    "builder_cell_ranked" -> ((s, d) => graft.engine.sim.Similarity.cellRanked(s, d)),
    "builder_minhash_pairs" -> ((s, d) => graft.engine.text.TextOps.minhashPairsPlan(s, d)),
    "builder_minhash_truth" -> ((s, d) => graft.engine.text.TextOps.minhashTruthPairs(s, d)),
    "builder_vector_scan" -> ((s, d) => graft.engine.sim.Similarity.vecsPlan(s, d)))

  def keys: Seq[String] = (SparkEntry.queries.keys ++ builders.keys).toSeq.sorted

  /** The plan-shape session, shared with the test suites: local[4],
    * 4 shuffle partitions, UTC — the table is only comparable under the
    * session it was recorded in. */
  def session(appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val table = "plans/shapes.tsv"
  val columns = Seq("scans", "shuffles", "smj", "bhj", "shj", "bnlj", "cartesian", "sorts")

  /** Operator counts of the final plan, in [[columns]] order. Query
    * stages are looked through and a reused exchange is one leaf, so
    * each shuffle is counted where it runs. Broadcast exchanges are
    * not counted: the broadcast join columns pin the strategy, and the
    * exchange count adds only whether AQE reused one, which can differ
    * between a cold and a warm run. */
  def shape(plan: SparkPlan): Seq[Int] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Seq[SparkPlan => Boolean](
      _.nodeName.contains("Scan parquet"),
      _.isInstanceOf[ShuffleExchangeExec],
      _.isInstanceOf[SortMergeJoinExec],
      _.isInstanceOf[BroadcastHashJoinExec],
      _.isInstanceOf[ShuffledHashJoinExec],
      _.isInstanceOf[BroadcastNestedLoopJoinExec],
      _.isInstanceOf[CartesianProductExec],
      _.isInstanceOf[SortExec]).map(nodes.count)
  }

  /** Execute each key and return its shape row, or its error for an
    * unknown key or a failing query. `show` receives each final plan
    * (AQE's current plan is the final one once the query ran). */
  def shapes(spark: SparkSession, sfDir: String, keys: Seq[String],
             show: (String, SparkPlan) => Unit = (_, _) => ()): (Seq[(String, Seq[Int])], Seq[(String, Throwable)]) = {
    val results = keys.map { k =>
      spark.sparkContext.setJobDescription(s"plans:$k")
      try {
        val build = SparkEntry.queries.get(k).orElse(builders.get(k))
          .getOrElse(throw new NoSuchElementException(s"unknown key: $k"))
        val df = build(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        show(k, plan)
        Right((k, shape(plan)))
      } catch { case e: Throwable => Left((k, e)) }
    }
    (results.collect { case Right(r) => r }, results.collect { case Left(f) => f })
  }

  /** A table cell: an exact count, or `lo-hi` for a count that races
    * between plan shapes (AQE picks a join's build side from whichever
    * input stage finishes first). */
  final case class Cell(lo: Int, hi: Int) {
    def admits(n: Int): Boolean = lo <= n && n <= hi
    override def toString: String = if (lo == hi) s"$lo" else s"$lo-$hi"
  }
  object Cell {
    def parse(s: String): Cell = { val b = s.split("-").map(_.toInt); Cell(b.head, b.last) }
  }

  /** The committed table as key -> (cells, why); absent file = empty. */
  def readTable(path: String = table): Map[String, (Seq[Cell], String)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).map { line =>
        val cells = line.split("\t", -1)
        cells.head -> (cells.slice(1, 1 + columns.size).map(Cell.parse).toSeq,
          cells.drop(1 + columns.size).mkString("\t"))
      }.toMap
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Plans <sfDir> [key ...]")
    val named = args.toSeq.drop(1)
    val spark = session("graft-plans")
    val (rows, failed) = shapes(spark, args(0), if (named.isEmpty) keys else named,
      (k, plan) => if (named.nonEmpty) println(s"========== $k ==========\n$plan"))
    spark.stop()
    // the committed row's why text, and its range where the count
    // still falls inside it, carry over into the regenerated row
    val committed = readTable()
    println(("query" +: columns :+ "why").mkString("\t"))
    rows.foreach { case (k, counts) =>
      val (cells, why) = committed.getOrElse(k, (counts.map(n => Cell(n, n)), ""))
      val shown = counts.zip(cells).map { case (n, c) => if (c.admits(n)) c else Cell(n, n) }
      println(((k +: shown.map(_.toString)) :+ why).mkString("\t"))
    }
    failed.foreach { case (k, e) => System.err.println(s"[plans] $k failed: ${e.getMessage}") }
    if (failed.nonEmpty) sys.exit(1)
  }
}
