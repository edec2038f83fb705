package graft.engine.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.ArrayMath

/** Nearest-centroid assignment (SURVEY.md §2.1 #4).
  *
  * Reference behavior: centroids come from `KMeansModel.clusterCenters`
  * and assignment from `model.predict(point)` [REPO-RECON]. Here the
  * centroids (with the cluster sizes) are part of an assignment's
  * [[Indices.Profile]], and assignment is an argmin over a broadcast
  * centroid table — which is what makes it oracle-checkable and
  * reusable for any assignment column (ground-truth labels or K-Means
  * output).
  *
  * Scale notes (100 TB): the k·d centroid table is tiny and always
  * broadcast; the argmin's exchange carries one row per point.
  */
object Centroids {

  /** (cluster, centroid: array<double>) of a profile, a local frame in
    * cluster order. */
  def table(s: SparkSession, p: Indices.Profile): DataFrame = {
    import s.implicits._
    p.clusters.map(c => (c.cluster, c.centroid.toSeq)).toDF("cluster", "centroid")
  }

  /** Assign each point to its nearest centroid (argmin Euclidean,
    * deterministic tie-break on centroid id) — `model.predict` parity
    * (SURVEY.md §2.1 #4). The ranking key is the ROUNDED distance
    * (§7.6 discipline): ranking on raw d2 would let cross-engine
    * summation-order ulp drift flip the winner between two
    * near-equidistant centroids. Returns (id, assigned, d2). */
  def assignNearest(points: DataFrame, centroids: DataFrame, idCol: String = "vec_id"): DataFrame = {
    graft.engine.expr.GraftFunctions.register(points.sparkSession)
    // one row per (point, centroid) pair via broadcast cross join —
    // the k ≪ n broadcast is the reference's centroids-in-closure
    // pattern made declarative. The argmin is a map-side-combinable
    // min(struct) over (ROUND(d2,6), centroid id) (struct ordering is
    // field-by-field, nulls-first): PARTIAL aggregation collapses the
    // k-way fan-out inside the producing task, so the exchange carries
    // one row per point instead of one per (point, centroid).
    points.select(col(idCol), col("features"))
      .crossJoin(broadcast(centroids.withColumnRenamed("cluster", "c_cluster")))
      .withColumn("d2", ArrayMath.sqDistNative(col("features"), col("centroid")))
      .groupBy(col(idCol))
      .agg(min(struct(round(col("d2"), 6).as("rd"),
        col("c_cluster").as("assigned"), col("d2").as("d2"))).as("m"))
      .select(col(idCol), col("m.assigned").as("assigned"), col("m.d2").as("d2"))
  }
}
