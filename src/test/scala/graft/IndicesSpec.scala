package graft

import graft.engine.cluster.{Centroids, Indices}

/** Exact-arithmetic assertions for every validity index on the
  * six-point fixture: clusters {(0,0),(0,1),(1,0)} and
  * {(10,10),(10,11),(11,10)}, centroids (1/3,1/3) and (31/3,31/3).
  */
class IndicesSpec extends SparkSpec {
  private val eps = 1e-12

  // hand-derived exact values
  private val sqrt2 = math.sqrt(2.0)
  private val sqrt5 = math.sqrt(5.0)
  private val dOwn = Seq(sqrt2 / 3, sqrt5 / 3, sqrt5 / 3) // per cluster, by symmetry
  private val meanS = (sqrt2 + 2 * sqrt5) / 9
  private val interDist = 10 * sqrt2

  private lazy val prof = Indices.profile(sixPoints)

  test("centroids are per-cluster element-wise means") {
    val c = Centroids.table(spark, prof).collect()
    assert(c.map(_.getInt(0)).toSeq == Seq(0, 1))
    val c0 = c(0).getSeq[Double](1)
    val c1 = c(1).getSeq[Double](1)
    assert(math.abs(c0(0) - 1.0 / 3) < eps && math.abs(c0(1) - 1.0 / 3) < eps)
    assert(math.abs(c1(0) - 31.0 / 3) < eps && math.abs(c1(1) - 31.0 / 3) < eps)
  }

  test("cluster sizes") {
    assert(prof.clusters.map(c => (c.cluster, c.n)) == Seq((0, 3L), (1, 3L)))
  }

  test("assign_nearest_centroid reproduces the labels") {
    val assigned = Centroids.assignNearest(sixPoints, Centroids.table(spark, prof))
      .orderBy("vec_id").collect()
    assert(assigned.map(_.getInt(1)).toSeq == Seq(0, 0, 0, 1, 1, 1))
  }

  test("WSSSE = 8/3 exactly") {
    val w = prof.wssse.get
    assert(math.abs(w - 8.0 / 3) < eps, s"wssse=$w")
  }

  test("intra-cluster stats: mean = (√2+2√5)/9, max = √5/3") {
    assert(prof.clusters.length == 2)
    prof.clusters.foreach { c =>
      assert(c.n == 3L)
      assert(math.abs(c.meanA - meanS) < eps)
      assert(math.abs(c.maxA - sqrt5 / 3) < eps)
    }
  }

  test("inter-centroid distance = 10√2") {
    val Seq((ci, cj, d)) = prof.pairs
    assert(ci == 0 && cj == 1)
    assert(math.abs(d - interDist) < eps)
  }

  test("BD-Silhouette matches the centroid-based formula") {
    // per point: a = d(x, own centroid), b = d(x, other centroid);
    // clusters are translated (NOT mirrored), so all 6 points count
    val c0 = (1.0 / 3, 1.0 / 3); val c1 = (31.0 / 3, 31.0 / 3)
    val pts = Seq(
      ((0.0, 0.0), c0, c1), ((0.0, 1.0), c0, c1), ((1.0, 0.0), c0, c1),
      ((10.0, 10.0), c1, c0), ((10.0, 11.0), c1, c0), ((11.0, 10.0), c1, c0))
    def dist(p: (Double, Double), c: (Double, Double)) =
      math.sqrt(math.pow(p._1 - c._1, 2) + math.pow(p._2 - c._2, 2))
    val ss = pts.map { case (p, own, other) =>
      val a = dist(p, own); val b = dist(p, other)
      (b - a) / math.max(a, b)
    }
    val expected = ss.sum / 6
    val got = prof.bdSilhouette.get
    assert(math.abs(got - expected) < eps, s"got=$got expected=$expected")
  }

  test("BD-Dunn = 10√2 / (√5/3)") {
    val got = prof.bdDunn.get
    assert(math.abs(got - interDist / (sqrt5 / 3)) < eps)
  }

  test("Davies-Bouldin = 2·S̄ / 10√2") {
    val got = prof.daviesBouldin.get
    assert(math.abs(got - 2 * meanS / interDist) < eps)
  }

  test("Calinski-Harabasz = 450 exactly") {
    // B = 2·3·‖(5,5)‖² = 300, W = 8/3, k−1 = 1, n−k = 4 → (300/1)/(2/3)
    val got = prof.calinskiHarabasz.get
    assert(math.abs(got - 450.0) < 1e-9, s"got=$got")
  }

  test("Xie-Beni = 1/450 exactly") {
    // W/(n·minsep²) = (8/3)/(6·200)
    val got = prof.xieBeni.get
    assert(math.abs(got - 1.0 / 450) < eps, s"got=$got")
  }

  test("MLlib silhouette equals ClusteringEvaluator on the six points and on sf0.001") {
    MllibSilhouetteReference.assertMatches(sixPoints, "six points")
    MllibSilhouetteReference.assertMatches(graft.engine.Tables.points(spark, sf0001), "sf0.001")
  }

  test("chi2 is zero for an independent 2x2 table") {
    import spark.implicits._
    // perfectly independent: every (a,b) cell has equal count
    val df = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("r", "c")
    val chi = Indices.chiSquared(df, "r", "c").head().getDouble(0)
    assert(math.abs(chi) < eps)
  }
}
