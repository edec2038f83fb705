package graft.engine.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.ArrayMath

/** The reference's core surface: centroid-based ("Big Data") clustering
  * validity indices — WSSSE, BD-Silhouette, BD-Dunn, Davies-Bouldin
  * (SURVEY.md §2.1 #5–#10; formulas normative per Luna-Romera et al.,
  * Prog. Artif. Intell. 2018, DOI 10.1007/s13748-017-0135-3).
  *
  * Every index is O(n·k) with one or two shuffle-bounded aggregations
  * over the point set — the paper's contribution vs O(n²) classic
  * Silhouette/Dunn — and a broadcast of the k·d centroid table. All
  * input is (id, features: array<double>, cluster: int); assignments
  * are an *input*, so the same operators serve ground-truth labels
  * (oracle-checked) and K-Means output (sweep).
  */
object Indices {

  /** Each point with the distance to its OWN centroid:
    * (point cols…, d2, d). One broadcast hash join, no extra shuffle
    * of the point set. */
  def ownCentroidDistances(points: DataFrame): DataFrame = {
    graft.engine.expr.GraftFunctions.register(points.sparkSession)
    val c = broadcast(Centroids.centroids(points)
      .withColumnRenamed("cluster", "c_cluster"))
    points.join(c, points("cluster") === c("c_cluster"))
      .withColumn("d2", ArrayMath.sqDistNative(col("features"), col("centroid")))
      .withColumn("d", sqrt(col("d2")))
      .drop("c_cluster", "centroid")
  }

  /** WSSSE = Σᵢ ‖xᵢ − c(xᵢ)‖² — reference `model.computeCost` parity
    * (#5). Single-row DataFrame (wssse). */
  def wssse(points: DataFrame): DataFrame =
    ownCentroidDistances(points).agg(sum("d2").as("wssse"))

  /** Per-cluster Sᵢ (mean dist to own centroid), diameter proxy
    * (max dist), and size (#6): (cluster, n, mean_dist, max_dist). */
  def intraClusterStats(points: DataFrame): DataFrame =
    ownCentroidDistances(points)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), avg("d").as("mean_dist"), max("d").as("max_dist"))

  /** All pairwise centroid distances d(cᵢ,cⱼ), i<j (#7):
    * (ci, cj, dist). k² rows — tiny for any real k. */
  def interCentroidDist(points: DataFrame): DataFrame = {
    val c = Centroids.centroids(points)
    val a = c.select(col("cluster").as("ci"), col("centroid").as("ca"))
    val b = c.select(col("cluster").as("cj"), col("centroid").as("cb"))
    a.join(broadcast(b), col("ci") < col("cj"))
      .select(col("ci"), col("cj"),
        ArrayMath.dist(col("ca"), col("cb")).as("dist"))
  }

  /** BD-Silhouette (#8, the paper's core contribution): per point
    * a = d(x, own centroid), b = min over OTHER centroids d(x, cⱼ),
    * s = (b−a)/max(a,b); index = mean(s). Single row (bd_silhouette).
    *
    * One broadcast of all k centroids + one pass over the points: the
    * per-pair rows never shuffle (min/avg have map-side partials). */
  def bdSilhouette(points: DataFrame): DataFrame = {
    val perPair = Centroids.pointCentroidDistances(points, Centroids.centroids(points))
      .withColumn("dd", sqrt(col("d2")))
    val perPoint = perPair.groupBy("vec_id").agg(
      min(when(col("cluster") === col("c_cluster"), col("dd"))).as("a"),
      min(when(col("cluster") =!= col("c_cluster"), col("dd"))).as("b"))
    perPoint
      // zero-denominator guard (constant corpus: a point exactly on
      // coincident centroids has a = b = 0): its s is UNDEFINED and
      // leaves the mean — AVG skips NULL — rather than crashing (ANSI
      // throws on any zero divisor). All-undefined => NULL index.
      // The oracle carries the same CASE.
      .select(when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .agg(avg("s").as("bd_silhouette"))
  }

  /** BD-Dunn (#9): min inter-centroid distance ÷ max point-to-own-
    * centroid distance. Single row (bd_dunn). */
  def bdDunn(points: DataFrame): DataFrame = {
    val minInter = interCentroidDist(points).agg(min("dist").as("min_inter"))
    val maxIntra = ownCentroidDistances(points).agg(max("d").as("max_intra"))
    minInter.crossJoin(maxIntra)
      // max_intra = 0 (every point ON its centroid): Dunn's
      // separation/compactness ratio is undefined — NULL, not a crash
      .select(when(col("max_intra") > 0,
        col("min_inter") / col("max_intra")).as("bd_dunn"))
  }

  /** Davies-Bouldin (#10): (1/k) Σᵢ maxⱼ≠ᵢ (Sᵢ+Sⱼ)/d(cᵢ,cⱼ),
    * Sᵢ = mean dist to centroid. Single row (davies_bouldin). */
  def daviesBouldin(points: DataFrame): DataFrame = {
    val s = intraClusterStats(points).select(col("cluster"), col("mean_dist"))
    // both orientations of the i<j pair table → full i≠j
    val pairs = interCentroidDist(points)
    val dij = pairs.select(col("ci"), col("cj"), col("dist"))
      .union(pairs.select(col("cj").as("ci"), col("ci").as("cj"), col("dist")))
    dij
      // coincident centroids (dist = 0) make the pair's R term
      // undefined — it leaves the max (and a cluster with NO defined
      // pair leaves the mean), mirroring the oracle's dist > 0 gate
      .filter(col("dist") > 0)
      // broadcast BOTH scatter joins: s is one row per CLUSTER (k ≪ n
      // by declaration — the same bound that broadcasts the centroid
      // table everywhere else), but Catalyst cannot size an
      // aggregate's output, so the k-row joins planned as
      // SortMergeJoins — 3 exchanges + 4 sorts of k-row tables
      // (guide §3.1: hint when you know a side is small; VERDICT r15
      // next-round #4). Plan: 9 Exchange / 2 SMJ → 6 Exchange / 0 SMJ.
      .join(broadcast(s.withColumnRenamed("cluster", "ci").withColumnRenamed("mean_dist", "si")), "ci")
      .join(broadcast(s.withColumnRenamed("cluster", "cj").withColumnRenamed("mean_dist", "sj")), "cj")
      .select(col("ci"), ((col("si") + col("sj")) / col("dist")).as("r"))
      .groupBy("ci").agg(max("r").as("rmax"))
      .agg(avg("rmax").as("davies_bouldin"))
  }

  /** Calinski-Harabasz (variance-ratio criterion):
    * CH = [B/(k−1)] / [W/(n−k)], B = Σᵢ nᵢ‖cᵢ − c̄‖² (between-cluster
    * dispersion vs the GLOBAL centroid), W = WSSSE. Same O(n·k)
    * shuffle-bounded shape as the other indices. */
  def calinskiHarabasz(points: DataFrame): DataFrame = {
    val n = points.agg(count(lit(1)).as("n"))
    val k = points.select(countDistinct(col("cluster")).as("k"))
    val globalC = points
      .select(posexplode(col("features")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("g"))
    val b = Centroids.centroidDims(points)
      .join(Centroids.clusterSizes(points), "cluster")
      .join(broadcast(globalC), "pos")
      .select((col("n") * (col("c") - col("g")) * (col("c") - col("g"))).as("term"))
      .agg(sum("term").as("b"))
    val w = wssse(points)
    b.crossJoin(w).crossJoin(n).crossJoin(k)
      // undefined-index guard: CH needs k > 1 (between-variance has
      // k-1 df), n > k (within has n-k df) and W > 0 (ANSI division
      // throws on every zero denominator; a degenerate corpus must
      // yield NULL, not a crash) — the oracle carries the same CASE
      .select(when(col("k") > 1 && col("n") > col("k") && col("wssse") > 0,
          (col("b") / (col("k") - 1)) / (col("wssse") / (col("n") - col("k"))))
        .as("calinski_harabasz"))
  }

  /** Xie-Beni: XB = WSSSE / (n · minᵢ<ⱼ ‖cᵢ − cⱼ‖²) — compactness over
    * worst-case centroid separation. */
  def xieBeni(points: DataFrame): DataFrame = {
    val minSep = interCentroidDist(points)
      .agg(min(col("dist") * col("dist")).as("minsep2"))
    val n = points.agg(count(lit(1)).as("n"))
    wssse(points).crossJoin(minSep).crossJoin(n)
      // coincident centroids (minsep2 = 0) or a single cluster
      // (minsep2 NULL): XB undefined — NULL, not a crash
      .select(when(col("n") * col("minsep2") > 0,
        col("wssse") / (col("n") * col("minsep2"))).as("xie_beni"))
  }

  /** All four indices of ONE assignment (point cols…, features,
    * cluster): the one-k case of [[allIndicesByK]]. */
  def allIndices(points: DataFrame): (Double, Option[Double], Option[Double], Option[Double]) =
    allIndicesByK(points.select(col("cluster"), col("features")).rdd
      .map(r => (0, r.getInt(0), r.getSeq[Double](1).toArray)))
      .getOrElse(0, (0.0, None, None, None))

  /** All four indices for EVERY k of k-keyed assignments (k, cluster,
    * features) in two passes over them, whatever the number of k: one
    * for the per-(k, cluster) centroids, one for each point's distances
    * to the centroids of its k. The k²-sized centroid-pair math runs on
    * the driver — exactly the reference's topology (SURVEY.md §4.1). A
    * k-sweep therefore pays two jobs for its whole index table instead
    * of one index DAG per k.
    *
    * WSSSE is total (always defined on non-empty input); the three
    * validity indices are None when UNDEFINED — a single non-empty
    * cluster (a k-means fit on a constant corpus collapses to one),
    * or zero denominators (coincident centroids / zero scatter). The
    * per-index conventions match the DataFrame forms above exactly:
    * silhouette means only the DEFINED per-point terms; DB maxes only
    * the DEFINED pair terms. Sums accumulate in point order inside a
    * partition and in partition order across partitions, so each k's
    * values are bit-identical run to run and whatever other k share
    * the input. */
  def allIndicesByK(rows: RDD[(Int, Int, Array[Double])])
      : Map[Int, (Double, Option[Double], Option[Double], Option[Double])] = {
    type Acc = scala.collection.mutable.HashMap[(Int, Int), Array[Double]]
    def merge(a: Acc, b: Acc, comb: (Array[Double], Array[Double]) => Array[Double]): Acc = {
      b.foreach { case (key, v) => a(key) = a.get(key).fold(v)(comb(_, v)) }
      a
    }
    // pass 1: per (k, cluster) [Σx…, n] -> centroid = Σx / n
    val sums = BatchKMeans.aggregateOrdered(rows, () => new Acc)(
      { case (m, (k, c, v)) =>
          val s = m.getOrElseUpdate((k, c), new Array[Double](v.length + 1))
          for (t <- v.indices) s(t) += v(t)
          s(v.length) += 1.0
          m },
      merge(_, _, BatchKMeans.addInto))
    val cents: Map[Int, Array[(Int, Array[Double])]] = sums.toSeq
      .groupBy(_._1._1).map { case (k, cs) =>
        k -> cs.map { case ((_, c), s) =>
          val d = s.length - 1
          (c, Array.tabulate(d)(t => s(t) / s(d)))
        }.sortBy(_._1).toArray
      }
    // pass 2: per point a = dist to own centroid, b = min dist to the
    // other centroids of its k; per (k, cluster)
    // [Σa², max a, Σa, Σ silhouette term, #defined terms, n]
    val bc = rows.sparkContext.broadcast(cents)
    val stats = try BatchKMeans.aggregateOrdered(rows, () => new Acc)(
      { case (m, (k, c, v)) =>
          var a2 = 0.0; var b2 = Double.PositiveInfinity
          bc.value(k).foreach { case (cc, ctr) =>
            val d2 = BatchKMeans.sqDist(v, ctr)
            if (cc == c) a2 = d2 else if (d2 < b2) b2 = d2
          }
          val a = math.sqrt(a2); val b = math.sqrt(b2)
          // zero-denominator guard (a point exactly on coincident
          // centroids has a = b = 0) and no other centroid (b = ∞):
          // the term is UNDEFINED and leaves the mean
          val defined = !b2.isInfinite && math.max(a, b) > 0
          val s = m.getOrElseUpdate((k, c), new Array[Double](6))
          s(0) += a2; s(1) = math.max(s(1), a); s(2) += a
          if (defined) { s(3) += (b - a) / math.max(a, b); s(4) += 1.0 }
          s(5) += 1.0
          m },
      merge(_, _, (x, y) => {
        x(0) += y(0); x(1) = math.max(x(1), y(1))
        for (i <- 2 until 6) x(i) += y(i)
        x
      }))
    finally bc.destroy()
    stats.toSeq.groupBy(_._1._1).map { case (k, byCluster) =>
      val agg = byCluster.map { case ((_, c), s) => (c, s) }.sortBy(_._1)
      val wssse = agg.map(_._2(0)).sum
      val maxIntra = agg.map(_._2(1)).max
      val silCnt = agg.map(_._2(4)).sum
      val sil = if (silCnt == 0) None else Some(agg.map(_._2(3)).sum / silCnt)
      val sByCluster = agg.map { case (c, s) => c -> s(2) / s(5) }.toMap
      val centArr = cents(k)
      val pairs = for {
        (ci, fi) <- centArr; (cj, fj) <- centArr if ci < cj
      } yield (ci, cj, math.sqrt(BatchKMeans.sqDist(fi, fj)))
      val dunn = if (pairs.isEmpty || maxIntra <= 0) None
        else Some(pairs.map(_._3).min / maxIntra)
      val dbTerms = centArr.flatMap { case (ci, _) =>
        val rs = pairs.collect {
          case (a, b, dd) if dd > 0 && a == ci => (sByCluster(ci) + sByCluster(b)) / dd
          case (a, b, dd) if dd > 0 && b == ci => (sByCluster(ci) + sByCluster(a)) / dd
        }
        if (rs.isEmpty) None else Some(rs.max)
      }
      val db = if (dbTerms.isEmpty) None else Some(dbTerms.sum / dbTerms.length)
      k -> (wssse, sil, dunn, db)
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
