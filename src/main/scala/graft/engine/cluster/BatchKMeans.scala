package graft.engine.cluster

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** K-means for MANY k in one loop over one persisted point set — the
  * engine's one k-means fit: `KMeansSweep.sweep` fits k = kMin..kMax
  * in one batch, `KMeansSweep.assign` is the one-k batch.
  *
  * Algorithm and defaults are MLlib's `KMeans`: k-means|| init (2
  * steps, each point sampled with probability 2k·cost/Σcost), then,
  * when there are more than k distinct candidates, a weighted
  * k-means++ with 30 local Lloyd iterations over them on the driver
  * (≤ k distinct candidates are used as they are, so a constant corpus
  * collapses to one center); then Lloyd iterations until every center
  * moves ≤ `Tol` or `maxIter` is reached. An empty cluster keeps its
  * previous center; nearest-center ties go to the lowest index.
  *
  * Batching changes the job structure, never a k's math. Every pass
  * over the data serves every k still in play: one job for the point
  * count and first center, two per init step (Σcost, then the draw),
  * one for the candidate weights, and one per Lloyd iteration that
  * returns per-(k, cluster) sums and counts; a converged k drops out
  * of the batch. A nine-k sweep is about maxIter + 6 jobs and as many
  * scans of the cache, instead of nine times that. Each k's draws are
  * seeded hashes of (seed, step, vec_id) and its sums accumulate in a
  * fixed order (see [[aggregateOrdered]]), so a k's fit is
  * bit-identical whatever other k share the batch, and run to run.
  */
private[cluster] object BatchKMeans {

  /** A point: (vec_id, dense features). */
  type Vec = (Long, Array[Double])

  /** One k's final centers and the wall-clock ms (epoch) at which its
    * Lloyd loop stopped: converged, or reached `maxIter`. */
  final case class Fit(k: Int, centers: Array[Array[Double]], stoppedAt: Long)

  private val Tol = 1e-4
  private val InitSteps = 2
  private val LocalIters = 30

  /** `f` over the point set as dense vectors, persisted MEMORY_AND_DISK
    * for the duration of `f` and released after it. The input frame's
    * own cache (if any) belongs to the caller and is never touched. */
  def withVectors[A](points: DataFrame)(f: RDD[Vec] => A): A = {
    val vecs = points.select(col("vec_id").cast("long"), col("features")).rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try f(vecs) finally vecs.unpersist()
  }

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** Index of the nearest center (lowest index on ties). */
  def nearest(centers: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity; var j = 0
    while (j < centers.length) {
      val d = sqDist(centers(j), v)
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Squared distance to the nearest center. */
  private def cost(centers: Array[Array[Double]], v: Array[Double]): Double = {
    var m = Double.PositiveInfinity; var j = 0
    while (j < centers.length) { m = math.min(m, sqDist(centers(j), v)); j += 1 }
    m
  }

  /** Seeded uniform in [0, 1) for one (stream, point): a splitmix64
    * hash, so a point's draw depends on neither the partitioning nor
    * the other k of the batch. */
  private def uniform(seed: Long, stream: Long, id: Long): Double = {
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (mix(mix(mix(seed) ^ stream) ^ id) >>> 11).toDouble / (1L << 53).toDouble
  }

  def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** One job: fold every partition from a fresh `zero`, then merge the
    * collected partials on the driver in PARTITION order (`collect`
    * returns them by partition index). treeAggregate merges in
    * task-completion order, which moves the last bits of a
    * floating-point sum run to run. */
  def aggregateOrdered[T, U: ClassTag](data: RDD[T], zero: () => U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U =
    data.mapPartitions(it => Iterator(it.foldLeft(zero())(seqOp)))
      .collect().foldLeft(zero())(combOp)

  /** Fit every k that `ks(n)` names (n = the point count) over the
    * persisted vectors; the fits come back in `ks` order, none when
    * the point set is empty. */
  def fit(vecs: RDD[Vec], ks: Long => Seq[Int], maxIter: Int, seed: Long): Seq[Fit] = {
    val sc = vecs.sparkContext
    // the count and the first center (the least seeded draw: a
    // uniform pick, shared by every k like MLlib's seeded takeSample)
    // in the one pass that also materializes the cache
    type Draw = Option[(Double, Long, Array[Double])]
    def least(a: Draw, b: Draw): Draw = (a ++ b).minByOption(d => (d._1, d._2))
    val (n, first) = aggregateOrdered[Vec, (Long, Draw)](vecs, () => (0L, None))(
      (acc, p) => (acc._1 + 1, least(acc._2, Some((uniform(seed, -1L, p._1), p._1, p._2)))),
      (a, b) => (a._1 + b._1, least(a._2, b._2)))
    val kArr = ks(n).toArray
    if (first.isEmpty || kArr.isEmpty) return Nil

    // k-means||: per k, the candidates so far; each step is a Σcost
    // job and a draw job over every k at once
    val cands = kArr.map(_ => ArrayBuffer(first.get._3))
    for (step <- 0 until InitSteps) {
      val bc = sc.broadcast(cands.map(_.toArray))
      val sums = aggregateOrdered[Vec, Array[Double]](vecs, () => new Array[Double](kArr.length))(
        { (acc, p) =>
          val cs = bc.value; var i = 0
          while (i < cs.length) { acc(i) += cost(cs(i), p._2); i += 1 }
          acc },
        addInto)
      val drawn = aggregateOrdered[Vec, Array[ArrayBuffer[Array[Double]]]](vecs,
          () => Array.fill(kArr.length)(ArrayBuffer.empty[Array[Double]]))(
        { (acc, p) =>
          val cs = bc.value; val u = uniform(seed, step.toLong, p._1); var i = 0
          while (i < cs.length) {
            if (u < 2.0 * cost(cs(i), p._2) * kArr(i) / sums(i)) acc(i) += p._2
            i += 1
          }
          acc },
        { (a, b) => a.indices.foreach(i => a(i) ++= b(i)); a })
      bc.destroy()
      cands.indices.foreach(i => cands(i) ++= drawn(i))
    }

    // more than k distinct candidates: weight each by the points
    // nearest to it (one job for every such k), then k-means++ locally
    val distinct = cands.map(_.distinctBy(v => ArraySeq.unsafeWrapArray(v)).toArray)
    val over = kArr.indices.filter(i => distinct(i).length > kArr(i)).toArray
    val weights =
      if (over.isEmpty) Array.empty[Array[Double]]
      else {
        val bc = sc.broadcast(over.map(distinct(_)))
        val sizes = over.map(distinct(_).length)
        val w = aggregateOrdered[Vec, Array[Array[Double]]](vecs, () => sizes.map(new Array[Double](_)))(
          { (acc, p) =>
            val cs = bc.value; var a = 0
            while (a < cs.length) { acc(a)(nearest(cs(a), p._2)) += 1.0; a += 1 }
            acc },
          { (a, b) => a.indices.foreach(i => addInto(a(i), b(i))); a })
        bc.destroy()
        w
      }
    val centers = kArr.indices.map { i =>
      val a = over.indexOf(i)
      if (a < 0) distinct(i) else kMeansPlusPlus(distinct(i), weights(a), kArr(i), seed)
    }.toArray

    // Lloyd: one job per iteration for every k still moving
    val dim = centers(0)(0).length
    val stoppedAt = Array.fill(kArr.length)(System.currentTimeMillis()) // maxIter = 0
    var active = kArr.indices.toArray
    var iter = 0
    while (active.nonEmpty && iter < maxIter) {
      val act = active
      val bc = sc.broadcast(act.map(centers(_)))
      val sizes = act.map(i => centers(i).length * (dim + 1))
      // per active k: [Σx of cluster 0, count 0, Σx of cluster 1, ...]
      val stats = aggregateOrdered[Vec, Array[Array[Double]]](vecs, () => sizes.map(new Array[Double](_)))(
        { (acc, p) =>
          val cs = bc.value; val v = p._2; var a = 0
          while (a < cs.length) {
            val s = acc(a); val base = nearest(cs(a), v) * (dim + 1); var t = 0
            while (t < dim) { s(base + t) += v(t); t += 1 }
            s(base + dim) += 1.0
            a += 1
          }
          acc },
        { (a, b) => a.indices.foreach(i => addInto(a(i), b(i))); a })
      bc.destroy()
      iter += 1
      val now = System.currentTimeMillis()
      act.foreach(stoppedAt(_) = now)
      active = act.indices.filter(a => update(centers(act(a)), stats(a), dim)).map(act(_)).toArray
    }
    kArr.indices.map(i => Fit(kArr(i), centers(i), stoppedAt(i)))
  }

  /** Moves each center to the mean of its [Σx, n] slot in `stats` (an
    * empty cluster keeps its center); true when any center moved more
    * than `Tol`. */
  private def update(centers: Array[Array[Double]], stats: Array[Double], dim: Int): Boolean = {
    var moved = false
    for (j <- centers.indices) {
      val base = j * (dim + 1); val cnt = stats(base + dim)
      if (cnt > 0) {
        val c = Array.tabulate(dim)(t => stats(base + t) / cnt)
        if (sqDist(centers(j), c) > Tol * Tol) moved = true
        centers(j) = c
      }
    }
    moved
  }

  /** k-means++ over weighted candidates, then up to 30 weighted Lloyd
    * iterations (an empty cluster restarts at a random candidate) —
    * MLlib's LocalKMeans. */
  private def kMeansPlusPlus(points: Array[Array[Double]], weights: Array[Double],
                             k: Int, seed: Long): Array[Array[Double]] = {
    val rand = new scala.util.Random(seed)
    def pick(scores: Int => Double, total: Double): Array[Double] = {
      val r = rand.nextDouble() * total
      var acc = 0.0; var j = 0
      while (j < points.length && acc < r) { acc += scores(j); j += 1 }
      points(math.max(j - 1, 0))
    }
    val centers = new Array[Array[Double]](k)
    centers(0) = pick(weights(_), weights.sum)
    val costs = points.map(sqDist(_, centers(0)))
    for (i <- 1 until k) {
      val score = (j: Int) => weights(j) * costs(j)
      centers(i) = pick(score, points.indices.map(score).sum)
      for (p <- points.indices) costs(p) = math.min(sqDist(points(p), centers(i)), costs(p))
    }
    val dim = points(0).length
    val closest = Array.fill(points.length)(-1)
    var moved = true
    var iter = 0
    while (moved && iter < LocalIters) {
      moved = false
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Double](k)
      for (i <- points.indices) {
        val j = nearest(centers, points(i))
        for (t <- 0 until dim) sums(j)(t) += weights(i) * points(i)(t)
        counts(j) += weights(i)
        if (j != closest(i)) { moved = true; closest(i) = j }
      }
      for (j <- 0 until k) centers(j) =
        if (counts(j) == 0.0) points(rand.nextInt(points.length))
        else sums(j).map(_ / counts(j))
      iter += 1
    }
    centers
  }

  /** `f` over the k-keyed assignments (k, cluster, features): every
    * point, once per fit, at its nearest final center. The centers ride
    * one broadcast, released after `f`. */
  def withAssignments[A](vecs: RDD[Vec], fits: Seq[Fit])(f: RDD[(Int, Int, Array[Double])] => A): A = {
    val bc = vecs.sparkContext.broadcast(fits.map(ft => (ft.k, ft.centers)).toArray)
    val rows = vecs.flatMap { case (_, v) =>
      bc.value.iterator.map { case (k, cs) => (k, nearest(cs, v), v) }
    }
    try f(rows) finally bc.destroy()
  }
}
