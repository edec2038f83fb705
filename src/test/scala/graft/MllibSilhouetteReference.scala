package graft

import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._
import graft.engine.cluster.Indices

/** MLlib's own squared-Euclidean silhouette (`ClusteringEvaluator`),
  * the reference `Indices.Profile.mllibSilhouette` must equal. MLlib
  * lives in test sources only; main code computes the closed form
  * inside the index profile. */
object MllibSilhouetteReference {
  /** The evaluator's silhouette of (features, cluster) points. */
  def evaluate(points: DataFrame): Double =
    new ClusteringEvaluator().setFeaturesCol("fv").setPredictionCol("cluster")
      .setMetricName("silhouette")
      .evaluate(points.withColumn("fv", array_to_vector(col("features"))))

  /** Asserts the profile's value equals the evaluator's within 1e-12
    * relative; returns the profile. */
  def assertMatches(points: DataFrame, what: String): Indices.Profile = {
    val ref = evaluate(points)
    val p = Indices.profile(points)
    assert(p.mllibSilhouette.exists(g => math.abs(g - ref) <= 1e-12 * math.abs(ref)),
      s"$what: profile mllibSilhouette ${p.mllibSilhouette} != ClusteringEvaluator $ref")
    p
  }
}
