package graft.engine.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's core surface: centroid-based ("Big Data") clustering
  * validity indices — WSSSE, BD-Silhouette, BD-Dunn, Davies-Bouldin,
  * plus Calinski-Harabasz and Xie-Beni (SURVEY.md §2.1 #5–#10; formulas
  * normative per Luna-Romera et al., Prog. Artif. Intell. 2018, DOI
  * 10.1007/s13748-017-0135-3).
  *
  * Every index is computed from ONE per-cluster [[Profile]] of an
  * assignment, built in two ordered passes over the points whatever
  * the number of indices asked of it: O(n·k) work and no shuffle of
  * the point set — the paper's contribution vs O(n²) classic
  * Silhouette/Dunn. The k²-sized centroid-pair math runs on the
  * driver, the reference's topology (SURVEY.md §4.1). Assignments are
  * an *input* (cluster, features), so the same kernel scores
  * ground-truth labels (oracle-checked) and K-Means output (sweep).
  */
object Indices {

  /** One cluster of an assignment: its id, size, Σx, centroid (Σx ÷ n),
    * max |component|, and over its points, with a = distance to the own
    * centroid and b = distance to the nearest other centroid: Σa², max
    * a, Σa, the Σ of the DEFINED silhouette terms (b−a)/max(a, b) and
    * their count, and the Σ of MLlib's silhouette terms. A term is
    * undefined when there is no other centroid or a = b = 0. */
  final case class ClusterStats(cluster: Int, n: Long, sum: Array[Double], centroid: Array[Double],
                                maxAbs: Double, sumA2: Double, maxA: Double, sumA: Double,
                                silSum: Double, silCount: Long, mllibSilSum: Double) {
    /** Sᵢ: mean distance to the centroid. */
    def meanA: Double = sumA / n
  }

  /** The per-cluster profile of one assignment, clusters in id order;
    * empty for an empty point set. Each index is None where it is
    * UNDEFINED — no points, a single cluster, or a zero denominator
    * (coincident centroids, zero scatter) — the NULL of the SQL forms.
    * Cross-cluster sums run in cluster-id order, so values are
    * bit-identical run to run. */
  final case class Profile(clusters: IndexedSeq[ClusterStats]) {
    def n: Long = clusters.map(_.n).sum
    def k: Int = clusters.length

    /** Every centroid pair i < j with d(cᵢ, cⱼ), in (ci, cj) order. */
    lazy val pairs: IndexedSeq[(Int, Int, Double)] = for {
      i <- clusters.indices; j <- i + 1 until k
    } yield (clusters(i).cluster, clusters(j).cluster,
      math.sqrt(BatchKMeans.sqDist(clusters(i).centroid, clusters(j).centroid)))

    /** WSSSE = Σᵢ ‖xᵢ − c(xᵢ)‖² — reference `model.computeCost` parity. */
    def wssse: Option[Double] =
      if (clusters.isEmpty) None else Some(clusters.map(_.sumA2).sum)

    /** BD-Silhouette: the mean of the defined per-point terms. */
    def bdSilhouette: Option[Double] = {
      val cnt = clusters.map(_.silCount).sum
      if (cnt == 0) None else Some(clusters.map(_.silSum).sum / cnt)
    }

    /** BD-Dunn: min inter-centroid distance ÷ max point-to-own-centroid
      * distance; undefined when every point sits on its centroid. */
    def bdDunn: Option[Double] = {
      val maxIntra = clusters.map(_.maxA).maxOption.getOrElse(0.0)
      if (pairs.isEmpty || maxIntra <= 0) None else Some(pairs.map(_._3).min / maxIntra)
    }

    /** Davies-Bouldin: mean over clusters of maxⱼ≠ᵢ (Sᵢ+Sⱼ)/d(cᵢ,cⱼ).
      * A pair of coincident centroids (d = 0) leaves the max, and a
      * cluster with no defined pair leaves the mean. */
    def daviesBouldin: Option[Double] = {
      val s = clusters.map(c => c.cluster -> c.meanA).toMap
      val terms = clusters.flatMap { c =>
        pairs.collect {
          case (a, b, d) if d > 0 && a == c.cluster => (s(a) + s(b)) / d
          case (a, b, d) if d > 0 && b == c.cluster => (s(b) + s(a)) / d
        }.maxOption
      }
      if (terms.isEmpty) None else Some(terms.sum / terms.length)
    }

    /** Calinski-Harabasz: [B/(k−1)] / [W/(n−k)], B = Σᵢ nᵢ‖cᵢ − c̄‖²
      * against the global mean c̄ = Σx ÷ n, W = WSSSE; needs k > 1,
      * n > k and W > 0. */
    def calinskiHarabasz: Option[Double] = wssse.filter(w => k > 1 && n > k && w > 0).map { w =>
      val total = n.toDouble
      val g = Array.tabulate(clusters.head.sum.length)(t => clusters.map(_.sum(t)).sum / total)
      val b = clusters.map(c => c.n * BatchKMeans.sqDist(c.centroid, g)).sum
      (b / (k - 1)) / (w / (total - k))
    }

    /** Xie-Beni: WSSSE / (n · minᵢ<ⱼ d(cᵢ,cⱼ)²), the squared distance
      * taken as (√d²)² like the SQL form; undefined for a single
      * cluster or coincident centroids. */
    def xieBeni: Option[Double] =
      pairs.map(p => p._3 * p._3).minOption.filter(n * _ > 0).map(m => wssse.get / (n * m))

    /** MLlib's squared-Euclidean silhouette (`ClusteringEvaluator`):
      * the mean of its per-point term over ALL points, a singleton
      * cluster's point scoring 0; needs two clusters. */
    def mllibSilhouette: Option[Double] =
      if (k < 2) None else Some(clusters.map(_.mllibSilSum).sum / n)

    /** The largest |component| of any point. */
    def maxAbs: Double = clusters.map(_.maxAbs).maxOption.getOrElse(0.0)
  }

  /** The profile of ONE assignment (point cols…, features, cluster):
    * the one-k case of [[profilesByK]]. */
  def profile(points: DataFrame): Profile =
    profilesByK(points.select(col("cluster"), col("features")).rdd
      .map(r => (0, r.getInt(0), r.getSeq[Double](1).toArray)))
      .getOrElse(0, Profile(Vector.empty))

  /** WSSSE and the three BD validity indices of ONE assignment; WSSSE
    * is 0.0 on an empty point set. */
  def allIndices(points: DataFrame): (Double, Option[Double], Option[Double], Option[Double]) = {
    val p = profile(points)
    (p.wssse.getOrElse(0.0), p.bdSilhouette, p.bdDunn, p.daviesBouldin)
  }

  /** The profile of EVERY k of k-keyed assignments (k, cluster,
    * features) in two passes over them, whatever the number of k: one
    * for the per-(k, cluster) [Σx, n, Σ‖y‖², max |component|], one for
    * each point's distances to the centroids of its k. A k-sweep
    * therefore pays two jobs for its whole index table instead of one
    * index DAG per k. Sums accumulate in point order inside a partition
    * and in partition order across partitions, so each k's profile is
    * bit-identical run to run and whatever other k share the input. */
  def profilesByK(rows: RDD[(Int, Int, Array[Double])]): Map[Int, Profile] = {
    type Acc = scala.collection.mutable.HashMap[(Int, Int), Array[Double]]
    def merge(a: Acc, b: Acc, comb: (Array[Double], Array[Double]) => Array[Double]): Acc = {
      b.foreach { case (key, v) => a(key) = a.get(key).fold(v)(comb(_, v)) }
      a
    }
    // pass 1: per (k, cluster) [Σx…, n, Σ‖y‖², max |component|]; Σ‖y‖²
    // is summed directly, not as Σa² + n‖μ‖², which cancels
    val sums = BatchKMeans.aggregateOrdered(rows, () => new Acc)(
      { case (m, (k, c, v)) =>
          val d = v.length
          val s = m.getOrElseUpdate((k, c), new Array[Double](d + 3))
          for (t <- v.indices) {
            s(t) += v(t); s(d + 1) += v(t) * v(t); s(d + 2) = math.max(s(d + 2), math.abs(v(t)))
          }
          s(d) += 1.0
          m },
      merge(_, _, (x, y) => {
        val mx = x.length - 1
        for (i <- 0 until mx) x(i) += y(i)
        x(mx) = math.max(x(mx), y(mx))
        x
      }))
    val cents: Map[Int, Array[(Int, Array[Double], Array[Double])]] = sums.toSeq
      .groupBy(_._1._1).map { case (k, cs) =>
        k -> cs.map { case ((_, c), s) =>
          val d = s.length - 3
          (c, Array.tabulate(d)(t => s(t) / s(d)), s)
        }.sortBy(_._1).toArray
      }
    // pass 2: per point a = dist to own centroid, b = min dist to the
    // other centroids of its k, and MLlib's mean squared distance to
    // each cluster D = ‖x‖² + Σ‖y‖²/n − 2·(x·Σx)/n; per (k, cluster)
    // [Σa², max a, Σa, Σ silhouette term, #defined terms, Σ MLlib term]
    val bc = rows.sparkContext.broadcast(cents)
    val stats = try BatchKMeans.aggregateOrdered(rows, () => new Acc)(
      { case (m, (k, c, v)) =>
          val d = v.length
          var sqn = 0.0; for (t <- v.indices) sqn += v(t) * v(t)
          var a2 = 0.0; var b2 = Double.PositiveInfinity
          var dOwn = 0.0; var nOwn = 0.0; var dOther = Double.PositiveInfinity
          bc.value(k).foreach { case (cc, ctr, s) =>
            var d2 = 0.0; var dot = 0.0; var t = 0
            while (t < d) { val e = v(t) - ctr(t); d2 += e * e; dot += v(t) * s(t); t += 1 }
            val dm = sqn + s(d + 1) / s(d) - 2 * dot / s(d)
            if (cc == c) { a2 = d2; dOwn = dm; nOwn = s(d) }
            else { if (d2 < b2) b2 = d2; if (dm < dOther) dOther = dm }
          }
          val a = math.sqrt(a2); val b = math.sqrt(b2)
          val s = m.getOrElseUpdate((k, c), new Array[Double](6))
          s(0) += a2; s(1) = math.max(s(1), a); s(2) += a
          if (!b2.isInfinite && math.max(a, b) > 0) { s(3) += (b - a) / math.max(a, b); s(4) += 1.0 }
          // MLlib's per-point term: 0 in a singleton cluster and at a = b
          if (nOwn > 1) {
            val am = dOwn * nOwn / (nOwn - 1)
            s(5) += (if (am < dOther) 1 - am / dOther else if (am > dOther) dOther / am - 1 else 0.0)
          }
          m },
      merge(_, _, (x, y) => {
        x(0) += y(0); x(1) = math.max(x(1), y(1))
        for (i <- 2 until 6) x(i) += y(i)
        x
      }))
    finally bc.destroy()
    cents.map { case (k, cs) =>
      k -> Profile(cs.toIndexedSeq.map { case (c, ctr, sx) =>
        val st = stats((k, c)); val d = ctr.length
        ClusterStats(c, sx(d).toLong, sx.take(d), ctr, sx(d + 2),
          st(0), st(1), st(2), st(3), st(4).toLong, st(5))
      })
    }
  }

  /** Chi-squared external validity over a contingency table of two
    * categorical columns (#16): Σ (o−e)²/e with e = row·col/N.
    * Pure SQL — expected counts via broadcast-joined marginals. */
  def chiSquared(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val obs = df.groupBy(rowCol, colCol).agg(count(lit(1)).cast("double").as("o"))
    val rowTot = obs.groupBy(rowCol).agg(sum("o").as("rt"))
    val colTot = obs.groupBy(colCol).agg(sum("o").as("ct"))
    val n = obs.agg(sum("o").as("nn"))
    // full grid (zero cells contribute (0−e)²/e = e), o = 0 when unobserved
    rowTot.crossJoin(broadcast(colTot))
      .join(obs, Seq(rowCol, colCol), "left")
      .crossJoin(broadcast(n))
      .select((pow(coalesce(col("o"), lit(0.0)) - col("rt") * col("ct") / col("nn"), 2.0)
        / (col("rt") * col("ct") / col("nn"))).as("term"))
      .agg(sum("term").as("chi2"))
  }
}
