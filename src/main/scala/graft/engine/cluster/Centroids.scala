package graft.engine.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.ArrayMath

/** Centroid derivation and nearest-centroid assignment
  * (SURVEY.md §2.1 #2–#4).
  *
  * Reference behavior: centroids come from `KMeansModel.clusterCenters`
  * and assignment from `model.predict(point)` [REPO-RECON]. Here both
  * are decoupled relational operators: centroids are the element-wise
  * mean of each cluster's members, assignment is an argmin over a
  * broadcast centroid table — which is what makes them oracle-checkable
  * and reusable for any assignment column (ground-truth labels or
  * K-Means output).
  *
  * Scale notes (100 TB): the per-dimension explode shuffles n·d rows
  * once with map-side partial aggregation (HashAggregate partial+final),
  * then the k·d centroid table is tiny and always broadcast. No other
  * shuffle touches the point set.
  */
object Centroids {

  /** (cluster, pos, c) — per-cluster per-dimension mean, the exploded
    * form used by the oracle. `pos` is 0-based. */
  def centroidDims(points: DataFrame): DataFrame =
    points
      .select(col("cluster"), posexplode(col("features")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(avg("v").as("c"))

  /** (cluster, centroid: array<double>) — assembled, dimension-ordered.
    *
    * Memoized on the IDENTITY of the input DataFrame object and
    * eagerly checkpointed: the n·d explode+aggregate is the ONE
    * shuffle that touches the point set, and every index consumer
    * (wssse, the BD pair, DB, CH, XB, nearest-assignment, the report
    * roundtrip) re-derived it per query — ~6 recomputes inside the
    * report union alone. Consumers that share a points FRAME (the
    * per-(session,sf) memoized ground-truth frame in ClusterQueries)
    * now pay the shuffle once. Identity keying is deliberate: a
    * canonicalized-PLAN key was tried and COLLIDED between per-k
    * k-means assignment frames (the k lives in a UDF closure the canonical
    * string does not render), silently serving k=2 centroids to the
    * k=3 indices — object identity can never cross-serve. WeakHashMap:
    * entries die with the input frame; the checkpointed value's plan
    * is a LogicalRDD that holds no reference back to the key. */
  private val centCache =
    new java.util.WeakHashMap[DataFrame, DataFrame]()
  def centroids(points: DataFrame): DataFrame = {
    val hit = centCache.synchronized(centCache.get(points))
    if (hit != null) return hit
    val built = centroidDims(points)
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cluster"), transform(col("pc"), p => p("c")).as("centroid"))
      .localCheckpoint(true) // built OUTSIDE the lock: concurrent sweep
                             // fits must not serialize on each other
    centCache.synchronized {
      val again = centCache.get(points)
      if (again != null) again else { centCache.put(points, built); built }
    }
  }

  /** (cluster, n) — cluster cardinalities (SURVEY.md §2.1 #3). */
  def clusterSizes(points: DataFrame): DataFrame =
    points.groupBy("cluster").agg(count(lit(1)).as("n"))

  /** Distance from each point to every centroid: one row per
    * (point, centroid) pair via broadcast cross join — the k ≪ n
    * broadcast is the reference's centroids-in-closure pattern made
    * declarative. Returns (point columns…, c_cluster, d2). */
  def pointCentroidDistances(points: DataFrame, centroids: DataFrame): DataFrame = {
    graft.engine.expr.GraftFunctions.register(points.sparkSession)
    val c = broadcast(centroids
      .withColumnRenamed("cluster", "c_cluster"))
    points.crossJoin(c)
      .withColumn("d2", ArrayMath.sqDistNative(col("features"), col("centroid")))
  }

  /** Assign each point to its nearest centroid (argmin Euclidean,
    * deterministic tie-break on centroid id) — `model.predict` parity
    * (SURVEY.md §2.1 #4). The ranking key is the ROUNDED distance
    * (§7.6 discipline): ranking on raw d2 would let cross-engine
    * summation-order ulp drift flip the winner between two
    * near-equidistant centroids. Returns (id, assigned, d2). */
  def assignNearest(points: DataFrame, centroids: DataFrame, idCol: String = "vec_id"): DataFrame =
    // argmin as a map-side-combinable min(struct): the same
    // (ROUND(d2,6), centroid id) pick as the former row_number window
    // (struct ordering is field-by-field, nulls-first on both paths),
    // but the k-way fan-out of the broadcast cross join is collapsed
    // by PARTIAL aggregation inside the producing task — the exchange
    // carries one row per point instead of one per (point, centroid),
    // and the per-point sort disappears.
    pointCentroidDistances(points.select(col(idCol), col("features")), centroids)
      .groupBy(col(idCol))
      .agg(min(struct(round(col("d2"), 6).as("rd"),
        col("c_cluster").as("assigned"), col("d2").as("d2"))).as("m"))
      .select(col(idCol), col("m.assigned").as("assigned"), col("m.d2").as("d2"))
}
