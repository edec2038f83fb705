package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * Spark startup dominates test wall-clock otherwise): the plan-shape
  * session of [[graft.tools.Plans]] (local[4], 4 shuffle partitions —
  * test fixtures are ≤ a few thousand rows, so 4 partitions beats the
  * engine's production 32), so the tool regenerates exactly the shapes
  * ScanAuditSpec checks.
  */
object SparkSpec {
  lazy val spark: SparkSession = graft.tools.Plans.session("graft-test")
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001

  /** Set a session conf for the duration of `f`, restoring after —
    * the SparkSession is shared across suites, so every conf flip in
    * a spec must go through this one audited save/restore. */
  def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Six points in two well-separated clusters; every index value is
    * hand-computable in exact arithmetic (FIXTURES.md micro-fixture 1). */
  def sixPoints: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Seq(0.0, 0.0), 0), (1L, Seq(0.0, 1.0), 0), (2L, Seq(1.0, 0.0), 0),
      (3L, Seq(10.0, 10.0), 1), (4L, Seq(10.0, 11.0), 1), (5L, Seq(11.0, 10.0), 1),
    ).toDF("vec_id", "features", "cluster")
  }
}
