package graft

import graft.tools.Plans

/** The plan-shape gate: every declared query (and each checkpoint-
  * hidden `builder_*` plan) is EXECUTED at sf0.001 in the shared
  * session, and its final adaptive plan's shape row — parquet scans,
  * shuffle exchanges, each join strategy, Sorts, counted by
  * [[graft.tools.Plans.shape]] — must equal its row in the committed
  * `plans/shapes.tsv`. The final plan is the truthful one: the initial
  * plan overcounts, because AQE's exchange reuse collapses duplicate
  * scans only at execution.
  *
  * The scan column is the double-compute detector: a shared subtree
  * that feeds k consumers without an eager checkpoint shows up as k
  * parquet scans of the same table (the bigram_logppl 5× /
  * simhash_dedup 3× pattern) — a k× read of 100 TB in production. Every
  * row reading more than one table carries its justification in the
  * table's `why` column. A query missing from the table fails, and so
  * does any plan change; after an intended one, regenerate the table
  * with `graft.tools.Plans <sf0.001>` (see its scaladoc) and review the
  * diff.
  */
class ScanAuditSpec extends SparkSpec {

  private lazy val committed = Plans.readTable()
  /** Similarity keys whose final plan carries a `might_contain` filter. */
  private val bloomFiltered = scala.collection.mutable.ArrayBuffer.empty[String]
  private lazy val (actual, failed) = Plans.shapes(spark, sf0001, Plans.keys, (k, plan) =>
    if ((graft.engine.sim.Similarity.queries.contains(k) || Plans.builders.contains(k))
      && plan.toString.contains("might_contain")) bloomFiltered += k)

  /** Keys that failed, or whose `cols` disagree with the table. */
  private def offenders(cols: Seq[String]): Seq[String] = {
    val idx = cols.map(Plans.columns.indexOf)
    failed.map { case (k, e) => s"$k: failed: ${e.getMessage}" } ++
      actual.flatMap { case (k, counts) =>
        committed.get(k) match {
          case None => Some(s"$k: no row in ${Plans.table}; actual ${counts.mkString(" ")}")
          case Some((cells, _)) if idx.exists(i => !cells(i).admits(counts(i))) =>
            Some(s"$k (${Plans.columns.mkString(" ")}): table ${cells.mkString(" ")}, actual ${counts.mkString(" ")}")
          case _ => None
        }
      }
  }

  test("the shape table's rows are exactly the declared queries and builders") {
    val keys = Plans.keys.toSet
    assert(committed.keySet -- keys == Set.empty, "rows for undeclared keys")
    assert(keys -- committed.keySet == Set.empty, "declared keys without a row")
  }

  test("no declared query re-scans a table beyond its recorded allowance") {
    val bad = offenders(Seq("scans"))
    assert(bad.isEmpty, s"scan-count changes:\n  ${bad.mkString("\n  ")}")
  }

  test("every final plan's exchanges, joins and sorts match the shape table") {
    val bad = offenders(Plans.columns.filterNot(_ == "scans"))
    assert(bad.isEmpty, s"plan-shape changes:\n  ${bad.mkString("\n  ")}")
  }

  test("no similarity final plan carries a runtime bloom-filter subquery") {
    // every similarity plan reads measured checkpoints: a bloom filter
    // here means a memo reports its origin plan's static size again
    // and the optimizer builds a filter subquery (an extra scan and
    // aggregate per execution) for a table of a few hundred KB
    assert(actual.nonEmpty)
    assert(bloomFiltered.isEmpty, s"might_contain in: ${bloomFiltered.mkString(", ")}")
  }
}
