package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** An eager local checkpoint whose plan reports the bytes it stores.
  *
  * `localCheckpoint` plants a `LogicalRDD` that carries its ORIGIN
  * plan's static size estimate: a 12,000-row cell ranking claims tens
  * of GB because every join above it multiplied the estimate. The
  * optimizer then plans tiny memos as if they were huge: hash
  * shuffles instead of broadcasts, and runtime bloom-filter
  * subqueries over whatever parquet scan sits on the other side of a
  * join. This re-plants the same `LogicalRDD` (same RDD, output,
  * partitioning, ordering and constraints) with `sizeInBytes` = the
  * memory plus disk bytes its blocks occupy, read from the block
  * manager right after the eager checkpoint. `classic.Dataset.ofRows`
  * is package-private to Spark's SQL module, hence this package.
  */
object MeasuredCheckpoint {
  def apply(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    val s = cp.sparkSession.asInstanceOf[classic.SparkSession]
    cp.queryExecution.logical match {
      case r: LogicalRDD =>
        val stored = s.sparkContext.getRDDStorageInfo
          .filter(_.id == r.rdd.id).map(i => i.memSize + i.diskSize).sum
        classic.Dataset.ofRows(s,
          r.copy()(s, Some(Statistics(sizeInBytes = BigInt(stored))), Some(r.constraints)))
    }
  }
}
