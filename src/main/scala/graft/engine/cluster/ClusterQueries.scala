package graft.engine.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MeasuredCheckpoint
import graft.engine.Tables

/** Declared queries + DuckDB oracles for SURVEY.md §2.1 (clustering
  * validity core). Ground-truth `label` in `embeddings` is the fixed
  * assignment; every floating output is ROUND(·, 6) on both sides and
  * every multi-row result carries a total deterministic order (§7.6).
  *
  * DuckDB 1.0.0 dialect: no `UNNEST … WITH ORDINALITY`; positional
  * explode is `FROM t, UNNEST(generate_series(1, len(col))) AS u(i)`
  * with 1-based `col[u.i]` (FIXTURES.md).
  */
object ClusterQueries {
  /** The ground-truth point frame memoized per (session, sfDir) as a
    * measured checkpoint — the reference's own `.cache()` lever (SURVEY
    * §1.1: "the single most important performance behavior to
    * preserve"): the profile's two passes and the nearest-centroid
    * argmin read the materialized rows, never parquet again. */
  private val ptsCache = new graft.engine.SessionCache[DataFrame]
  private[graft] def pts(s: SparkSession, d: String): DataFrame =
    ptsCache.get(s, d)(MeasuredCheckpoint(Tables.points(s, d)))

  /** The ground-truth [[Indices.Profile]], memoized like [[pts]] (so a
    * fresh memo epoch rebuilds both): every index query below is a
    * small local frame over it, and the whole validity report costs
    * the profile's two passes over the points. */
  private val profileCache = new graft.engine.SessionCache[Indices.Profile]
  private[graft] def profile(s: SparkSession, d: String): Indices.Profile =
    profileCache.get(s, d)(Indices.profile(pts(s, d)))

  /** One-row index frame (NULL when undefined or over no points),
    * ROUND(·, 6) like every float output. */
  private def indexRow(s: SparkSession, name: String, v: Option[Double]): DataFrame = {
    import s.implicits._
    Seq(v).toDF(name).select(round(col(name), 6).as(name))
  }

  // The per-cluster frames are local relations built in key order:
  // the rows already carry the declared total order, and an ORDER BY
  // would plan a range shuffle of a few rows
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vector_scan" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")), col("label"))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          round(col("v").cast("double"), 6).as("val"), col("label"))
        .orderBy("vec_id", "i")),

    "centroids_from_assignment" -> ((s, d) => {
      import s.implicits._
      profile(s, d).clusters
        .flatMap(c => c.centroid.indices.map(t => (c.cluster, t + 1L, c.centroid(t))))
        .toDF("cluster", "i", "c").select(col("cluster"), col("i"), round(col("c"), 6).as("c"))
    }),

    "cluster_sizes" -> ((s, d) => {
      import s.implicits._
      profile(s, d).clusters.map(c => (c.cluster, c.n)).toDF("cluster", "n")
    }),

    "assign_nearest_centroid" -> ((s, d) =>
      Centroids.assignNearest(pts(s, d), Centroids.table(s, profile(s, d)))
        .select(col("vec_id"), col("assigned"), round(sqrt(col("d2")), 6).as("dist"))
        .orderBy("vec_id")),

    "wssse" -> ((s, d) => indexRow(s, "wssse", profile(s, d).wssse)),

    "intra_cluster_stats" -> ((s, d) => {
      import s.implicits._
      profile(s, d).clusters.map(c => (c.cluster, c.n, c.meanA, c.maxA))
        .toDF("cluster", "n", "mean_dist", "max_dist")
        .select(col("cluster"), col("n"),
          round(col("mean_dist"), 6).as("mean_dist"), round(col("max_dist"), 6).as("max_dist"))
    }),

    "inter_centroid_dist" -> ((s, d) => {
      import s.implicits._
      profile(s, d).pairs.toDF("ci", "cj", "dist")
        .select(col("ci"), col("cj"), round(col("dist"), 6).as("dist"))
    }),

    "bd_silhouette" -> ((s, d) => indexRow(s, "bd_silhouette", profile(s, d).bdSilhouette)),

    "bd_dunn" -> ((s, d) => indexRow(s, "bd_dunn", profile(s, d).bdDunn)),

    "davies_bouldin" -> ((s, d) => indexRow(s, "davies_bouldin", profile(s, d).daviesBouldin)),

    "external_validity_chi2" -> ((s, d) =>
      Indices.chiSquared(Tables.documents(s, d), "lang", "source")
        .select(round(col("chi2"), 6).as("chi2"))),

    "calinski_harabasz" -> ((s, d) =>
      indexRow(s, "calinski_harabasz", profile(s, d).calinskiHarabasz)),

    "xie_beni" -> ((s, d) => indexRow(s, "xie_beni", profile(s, d).xieBeni)),

    // #11 MLlib's squared-Euclidean silhouette, a cross-check for
    // bd_silhouette; past the declared domain its closed form cancels
    // and drifts from the SQL oracle below ROUND 6, so it raises
    "silhouette_mllib" -> ((s, d) => {
      val p = profile(s, d)
      require(p.maxAbs < Tables.maxAbsComponent, "silhouette_mllib: |embedding component| >= 1e7 " +
        "is outside the declared domain (float-cancellation ceiling of the closed-form silhouette)")
      indexRow(s, "silhouette_mllib", p.mllibSilhouette)
    }),
  )

  /** Shared oracle CTEs: exploded points + centroids from labels.
    * `private[cluster]` so KMeansSweep's report-roundtrip oracle can
    * recompose the same index SQL instead of duplicating it. */
  private[cluster] val PT =
    """pt AS (SELECT vec_id, label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS v
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
      |ctr AS (SELECT label AS cluster, i, AVG(v) AS c FROM pt GROUP BY 1, 2)""".stripMargin

  private[cluster] val OWN =
    """own AS (SELECT pt.vec_id, pt.label AS cluster,
      |  SUM((pt.v - ctr.c) * (pt.v - ctr.c)) AS d2
      |  FROM pt JOIN ctr ON pt.label = ctr.cluster AND pt.i = ctr.i
      |  GROUP BY 1, 2)""".stripMargin

  private[cluster] val CDIST =
    """cdist AS (SELECT a.cluster AS ci, b.cluster AS cj,
      |  SQRT(SUM((a.c - b.c) * (a.c - b.c))) AS dist
      |  FROM ctr a JOIN ctr b ON a.i = b.i AND a.cluster < b.cluster
      |  GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "vector_scan" ->
      """SELECT vec_id, u.i AS i, ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS val, label
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        |ORDER BY vec_id, i""".stripMargin,

    "centroids_from_assignment" ->
      s"""WITH $PT
         |SELECT cluster, i, ROUND(c, 6) AS c FROM ctr ORDER BY cluster, i""".stripMargin,

    "cluster_sizes" ->
      "SELECT label AS cluster, COUNT(*) AS n FROM embeddings GROUP BY 1 ORDER BY 1",

    "assign_nearest_centroid" ->
      s"""WITH $PT,
         |d AS (SELECT p.vec_id, ctr.cluster, SUM((p.v - ctr.c) * (p.v - ctr.c)) AS d2
         |  FROM pt p JOIN ctr ON p.i = ctr.i GROUP BY 1, 2),
         |r AS (SELECT vec_id, cluster, d2,
         |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ROUND(d2, 6), cluster) AS rn FROM d)
         |SELECT vec_id, cluster AS assigned, ROUND(SQRT(d2), 6) AS dist
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "wssse" ->
      s"""WITH $PT,
         |$OWN
         |SELECT ROUND(SUM(d2), 6) AS wssse FROM own""".stripMargin,

    "intra_cluster_stats" ->
      s"""WITH $PT,
         |$OWN
         |SELECT cluster, COUNT(*) AS n, ROUND(AVG(SQRT(d2)), 6) AS mean_dist,
         |  ROUND(MAX(SQRT(d2)), 6) AS max_dist
         |FROM own GROUP BY cluster ORDER BY cluster""".stripMargin,

    "inter_centroid_dist" ->
      s"""WITH $PT,
         |$CDIST
         |SELECT ci, cj, ROUND(dist, 6) AS dist FROM cdist ORDER BY ci, cj""".stripMargin,

    // degenerate-corpus guards (mirroring Indices.Profile): a zero
    // denominator makes the index term UNDEFINED — it leaves the
    // aggregate (CASE -> NULL skips; dist > 0 filters), and an
    // all-undefined index is a NULL row, never a crash
    "bd_silhouette" ->
      s"""WITH $PT,
         |d AS (SELECT p.vec_id, p.label, ctr.cluster,
         |  SQRT(SUM((p.v - ctr.c) * (p.v - ctr.c))) AS dd
         |  FROM pt p JOIN ctr ON p.i = ctr.i GROUP BY 1, 2, 3),
         |ab AS (SELECT vec_id,
         |  MIN(CASE WHEN label = cluster THEN dd END) AS a,
         |  MIN(CASE WHEN label <> cluster THEN dd END) AS b
         |  FROM d GROUP BY 1)
         |SELECT ROUND(AVG(CASE WHEN GREATEST(a, b) > 0
         |  THEN (b - a) / GREATEST(a, b) END), 6) AS bd_silhouette FROM ab""".stripMargin,

    "bd_dunn" ->
      s"""WITH $PT,
         |$OWN,
         |$CDIST
         |SELECT ROUND(CASE WHEN (SELECT MAX(SQRT(d2)) FROM own) > 0
         |  THEN (SELECT MIN(dist) FROM cdist)
         |    / (SELECT MAX(SQRT(d2)) FROM own) END, 6) AS bd_dunn""".stripMargin,

    "davies_bouldin" ->
      s"""WITH $PT,
         |$OWN,
         |$CDIST,
         |s AS (SELECT cluster, AVG(SQRT(d2)) AS mean_dist FROM own GROUP BY 1),
         |dij AS (SELECT ci, cj, dist FROM cdist
         |  UNION ALL SELECT cj AS ci, ci AS cj, dist FROM cdist),
         |r AS (SELECT dij.ci, MAX((si.mean_dist + sj.mean_dist) / dij.dist) AS rmax
         |  FROM dij JOIN s si ON si.cluster = dij.ci JOIN s sj ON sj.cluster = dij.cj
         |  WHERE dij.dist > 0
         |  GROUP BY 1)
         |SELECT ROUND(AVG(rmax), 6) AS davies_bouldin FROM r""".stripMargin,

    "calinski_harabasz" ->
      s"""WITH $PT,
         |$OWN,
         |g AS (SELECT i, AVG(v) AS g FROM pt GROUP BY 1),
         |b AS (SELECT SUM(cnt.n * (ctr.c - g.g) * (ctr.c - g.g)) AS b
         |  FROM ctr JOIN g ON ctr.i = g.i
         |  JOIN (SELECT label AS cluster, COUNT(*) AS n FROM embeddings GROUP BY 1) cnt
         |    ON cnt.cluster = ctr.cluster),
         |w AS (SELECT SUM(d2) AS w FROM own),
         |nk AS (SELECT COUNT(*) AS n, COUNT(DISTINCT label) AS k FROM embeddings)
         |SELECT ROUND(CASE WHEN nk.k > 1 AND nk.n > nk.k AND w.w > 0
         |  THEN (b.b / (nk.k - 1)) / (w.w / (nk.n - nk.k)) END, 6) AS calinski_harabasz
         |FROM b, w, nk""".stripMargin,

    "xie_beni" ->
      s"""WITH $PT,
         |$OWN,
         |$CDIST
         |SELECT ROUND(CASE WHEN (SELECT COUNT(*) FROM embeddings)
         |      * (SELECT MIN(dist * dist) FROM cdist) > 0
         |  THEN (SELECT SUM(d2) FROM own)
         |    / ((SELECT COUNT(*) FROM embeddings)
         |       * (SELECT MIN(dist * dist) FROM cdist)) END, 6) AS xie_beni""".stripMargin,

    // MLlib's conventions: fewer than two clusters -> NULL; a = b
    // scores EXACTLY 0.0, the 0/0 case included (the GREATEST(a, b) =
    // 0 arm); a point whose own cluster has ONE member scores 0 and
    // STAYS in the mean (the naive n/(n-1) form would NULL it out)
    "silhouette_mllib" ->
      """WITH pt AS (SELECT vec_id, label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
        |sq AS (SELECT vec_id, label, SUM(v * v) AS sqn FROM pt GROUP BY 1, 2),
        |cstats AS (SELECT label AS cl, i, AVG(v) AS mu FROM pt GROUP BY 1, 2),
        |csq AS (SELECT label AS cl, COUNT(*) AS n, AVG(sqn) AS avg_sqn FROM sq GROUP BY 1),
        |dots AS (SELECT pt.vec_id, cstats.cl, SUM(pt.v * cstats.mu) AS xdotmu
        |  FROM pt JOIN cstats ON pt.i = cstats.i GROUP BY 1, 2),
        |dmat AS (SELECT sq.vec_id, sq.label, d.cl, c.n,
        |  sq.sqn - 2 * d.xdotmu + c.avg_sqn AS dist
        |  FROM sq JOIN dots d ON d.vec_id = sq.vec_id JOIN csq c ON c.cl = d.cl),
        |ab AS (SELECT vec_id,
        |  MAX(CASE WHEN label = cl AND n > 1 THEN dist * n / (n - 1) END) AS a,
        |  MAX(CASE WHEN label = cl THEN n END) AS own_n,
        |  MIN(CASE WHEN label <> cl THEN dist END) AS b
        |  FROM dmat GROUP BY 1)
        |SELECT CASE WHEN (SELECT COUNT(DISTINCT label) FROM embeddings) < 2
        |  THEN NULL
        |  ELSE ROUND(AVG(CASE WHEN own_n = 1 OR GREATEST(a, b) = 0 THEN 0.0
        |    ELSE (b - a) / GREATEST(a, b) END), 6) END AS silhouette_mllib
        |FROM ab""".stripMargin,

    "external_validity_chi2" ->
      """WITH obs AS (SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, SUM(o) AS rtt FROM obs GROUP BY 1),
        |ct AS (SELECT source, SUM(o) AS ctt FROM obs GROUP BY 1),
        |n AS (SELECT SUM(o) AS nn FROM obs)
        |SELECT ROUND(SUM(POWER(COALESCE(o, 0) - rtt * ctt / nn, 2)
        |  / (rtt * ctt / nn)), 6) AS chi2
        |FROM rt CROSS JOIN ct CROSS JOIN n
        |LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source""".stripMargin,
  // all cluster queries read pts() = cleanVectors(points) — gate their
  // oracles identically; vector_scan alone reads the RAW embeddings
  // (posexplode skips NULL arrays and surfaces NULL elements, exactly
  // like the ungated UNNEST), so its oracle stays raw
  ).map { case (k, v) =>
    k -> (if (k == "vector_scan") v else graft.engine.Tables.gateEmbeddingsSql(v))
  }
}
