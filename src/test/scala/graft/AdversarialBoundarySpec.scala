package graft

import org.apache.spark.sql.functions._

/** Crash-freedom gate on the HOSTILE fixture (round 13): every query
  * that crashed on tools/AdversarialFixture's first run — NULL join
  * keys, NULL embeddings, NULL array elements, NULL/pre-1970
  * timestamps, NULL text, whitespace-only docs, zero-token strata —
  * must now execute to completion on it. Value parity vs DuckDB lives
  * in the out-of-band probe (verify skill step 4); THIS spec pins the
  * in-band half (one bad row must never kill the job) so a regression
  * of any boundary contract fails `sbt test`, not just the next
  * manual probe run.
  *
  * The fixture is tiny (hundreds of rows) and written once per suite
  * run into a temp dir in the driver's single-file-per-table layout.
  */
class AdversarialBoundarySpec extends SparkSpec {

  private lazy val dir: String = {
    // TempDirs.scratch: shutdown-hook-deleted, never a bare temp dir
    // (the graft-skewdim leak class, round-9 verdict #3)
    val d = graft.engine.TempDirs.scratch("graft_advfix_spec")
    graft.tools.AdversarialFixture.write(spark, d)
    d
  }

  /** The round-13 crash list, verbatim (19 keys; see SURVEY §7.14). */
  private val formerCrashers = Seq(
    "ann_lsh_topk", "ann_recall", "lsh_tables_sweep", "knn_per_vector",
    "k_sweep", "k_sweep_determinism_contract", "kmeans_train",
    "optimal_k_select", "silhouette_mllib",
    "multimodal_decode_stats", "multimodal_resize_stats",
    "multimodal_frame_sample", "mime_sniff_audit",
    "q_cogroup_reconcile", "tokenizer_fertility",
    "stream_stateful", "stream_transform_with_state",
    "source_text_roundtrip", "incremental_ann_upsert")

  formerCrashers.foreach { key =>
    test(s"$key executes on the hostile fixture (crashed pre-round-13)") {
      val rows = SparkEntry.queries(key)(spark, dir).collect()
      assert(rows != null) // completion is the contract; values are the probe's job
    }
  }

  test("one-pass ANN grading equals the per-point union form on the hostile, constant and empty corpora") {
    // hostile: a zero vector among the candidates (NULL cos); constant:
    // every cos NULL; empty: no truth row at all
    Seq("hostile" -> dir, "constant" -> constDir, "empty" -> emptyDir).foreach { case (corpus, d) =>
      val diff = AnnGradingReference.mismatches(spark, d)
      assert(diff.isEmpty, s"$corpus corpus:\n${diff.mkString("\n")}")
    }
    // on the empty corpus every operating point is still present, with
    // zero queries, NULL correctness and no candidates
    AnnGradingReference.queries.foreach { case (q, _) =>
      SparkEntry.queries(q)(spark, emptyDir).collect().foreach { r =>
        assert(r.getAs[Long]("n_queries") == 0L, s"$q: $r")
        assert(r.isNullAt(r.fieldIndex("n_correct")) && r.isNullAt(r.fieldIndex("recall_at_1")), s"$q: $r")
        if (r.schema.fieldNames.contains("n_candidates"))
          assert(r.getAs[Long]("n_candidates") == 0L, s"$q: $r")
      }
    }
  }

  test("every similarity query over the vector checkpoint equals its raw-pass reference on the hostile, constant and empty corpora") {
    // hostile: NULL, NULL-element, ragged and non-finite rows outside
    // the universe and a zero vector inside it; constant: every vector
    // equal; empty: no vector at all
    Seq("hostile" -> dir, "constant" -> constDir, "empty" -> emptyDir).foreach { case (corpus, d) =>
      val diff = SimilarityVectorsReference.mismatches(spark, d)
      assert(diff.isEmpty, s"$corpus corpus:\n${diff.mkString("\n")}")
    }
  }

  test("the per-doc feature views equal their per-artifact builders on the hostile, constant and empty corpora") {
    // hostile: NULL, empty and whitespace-only text and docs with fewer
    // than 3 tokens (row-universe edges of every view); constant: one
    // text repeated; empty: no document at all
    Seq("hostile" -> dir, "constant" -> constDir, "empty" -> emptyDir).foreach { case (corpus, d) =>
      val diff = DedupFeaturesReference.mismatches(spark, d)
      assert(diff.isEmpty, s"$corpus corpus:\n${diff.mkString("\n")}")
    }
  }

  // completion alone can be vacuous — pin a BINDING boundary outcome
  // for one representative of each crash class (values beyond these
  // are the DuckDB probe's job):

  test("tokenizer_fertility emits the zero-token stratum with NULL ratios (not an abort, not a drop)") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("tokenizer_fertility")(spark, dir).collect()
    // fixture doc 7 is whitespace-only ("   ", lang es): its stratum
    // must be PRESENT with fertility non-null (ws>0) but
    // chars_per_token NULL (bpe = 0 — the division the ANSI guard
    // covers)
    val es = rows.filter(r => r.getAs[String]("lang") == "es")
    assert(es.nonEmpty, "es strata missing entirely")
    val zeroBpe = rows.filter(r => !r.isNullAt(r.fieldIndex("n_bpe_tokens"))
      && r.getAs[Long]("n_bpe_tokens") == 0L)
    assert(zeroBpe.nonEmpty, "the zero-BPE stratum vanished instead of carrying NULL ratios")
    zeroBpe.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("chars_per_token")),
        s"zero-token stratum must have NULL chars_per_token: $r")
    }
  }

  test("q_cogroup_reconcile excludes NULL ids (the typed-encoder boundary)") {
    val ids = SparkEntry.queries("q_cogroup_reconcile")(spark, dir)
      .select("id").collect()
    assert(ids.nonEmpty && ids.forall(!_.isNullAt(0)))
  }

  test("stream_stateful drops NULL-keyed/NULL-valued events but keeps every other user") {
    val out = SparkEntry.queries("stream_stateful")(spark, dir).collect()
    assert(out.nonEmpty && out.forall(!_.isNullAt(0)))
    // fixture: user ids are (i % 30) + 1 with every 19th event NULL,
    // plus the round-15 referential-orphan user 999 (present in events,
    // absent from customer — stateful streaming doesn't join customer,
    // so the orphan is a full citizen here) — all 31 users still have
    // at least one non-null event, so the boundary must not swallow
    // whole users
    assert(out.length == 31, s"expected 31 users, got ${out.length}")
  }

  private lazy val emptyDir: String = {
    val d = graft.engine.TempDirs.scratch("graft_empty_spec")
    graft.tools.AdversarialFixture.write(spark, d, 0L, empty = true)
    d
  }

  /** Empty-corpus crash list (the "day with no data" case): MLlib
    * fits/evaluators abort on zero rows, Spark's bloomFilter aggregate
    * hands back a null-buffer filter, and landed-layout read-backs
    * can't infer a schema from zero files — all guarded in round 13. */
  private val emptyCrashers = Seq(
    "k_sweep", "k_sweep_determinism_contract", "kmeans_train",
    "optimal_k_select", "silhouette_mllib", "bloom_fpp_contract",
    "q_join_bloom_prefilter", "sink_partitioned_roundtrip",
    "stream_foreach_batch")

  emptyCrashers.foreach { key =>
    test(s"$key executes on an EMPTY corpus (crashed pre-round-13)") {
      val rows = SparkEntry.queries(key)(spark, emptyDir).collect()
      assert(rows != null)
    }
  }

  /** The one-row validity indices over no points: exactly one all-NULL
    * row, as SQL SUM/AVG give over no rows; the per-cluster and
    * per-point tables have no rows at all. */
  private val emptyIndexRows = Seq(
    "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "calinski_harabasz", "xie_beni")

  emptyIndexRows.foreach { key =>
    test(s"$key is one all-NULL row on an EMPTY corpus") {
      val rows = SparkEntry.queries(key)(spark, emptyDir).collect()
      assert(rows.length == 1 && rows(0).length == 1 && rows(0).isNullAt(0),
        s"$key must be one NULL row: ${rows.toSeq}")
    }
  }

  test("the per-cluster and per-point index tables are empty on an EMPTY corpus") {
    Seq("intra_cluster_stats", "inter_centroid_dist", "centroids_from_assignment",
        "cluster_sizes", "assign_nearest_centroid").foreach { key =>
      val n = SparkEntry.queries(key)(spark, emptyDir).collect().length
      assert(n == 0, s"$key returned $n rows on an empty corpus")
    }
  }

  private lazy val singleDir: String = {
    val d = graft.engine.TempDirs.scratch("graft_single_spec")
    graft.tools.AdversarialFixture.write(spark, d, 0L, cap = 1)
    d
  }

  /** Single-row crash list (degenerate statistics): k-means with
    * k > n (raw MLlib ArrayIndexOutOfBounds; k now clamps to n, and
    * k < 2 short-circuits to the trivial single-cluster assignment),
    * silhouette with one cluster (NULL by convention), and
    * Calinski-Harabasz's k-1 / n-k / W zero denominators (NULL). */
  private val singleRowCrashers = Seq(
    "kmeans_train", "k_sweep", "k_sweep_determinism_contract",
    "optimal_k_select", "silhouette_mllib", "calinski_harabasz")

  singleRowCrashers.foreach { key =>
    test(s"$key executes on a SINGLE-ROW corpus (crashed pre-round-13)") {
      val rows = SparkEntry.queries(key)(spark, singleDir).collect()
      assert(rows != null)
    }
  }

  test("single-row conventions bind: trivial assignment, NULL metrics, empty sweep") {
    // kmeans_train (k clamped 10 -> 1): the one point lands in cluster 0
    val kt = SparkEntry.queries("kmeans_train")(spark, singleDir).collect()
    assert(kt.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((0, 1L)))
    // silhouette of one cluster is NULL, not a number
    val sil = SparkEntry.queries("silhouette_mllib")(spark, singleDir).collect()
    assert(sil.length == 1 && sil(0).isNullAt(0))
    // the sweep clamps to an empty k range (no k in [2, 6] fits n = 1)
    assert(SparkEntry.queries("k_sweep")(spark, singleDir).collect().isEmpty)
  }

  private lazy val constDir: String = {
    val d = graft.engine.TempDirs.scratch("graft_const_spec")
    graft.tools.AdversarialFixture.write(spark, d, 0L, cap = -1, constant = true)
    d
  }

  /** Constant-corpus crash list (zero-variance denominators): the
    * validity indices divide by inter-centroid distances and
    * intra-cluster scatter that are ZERO when every point is
    * identical (the broken-encoder shape) — all NULL-guarded in
    * round 13, with the k-means fit collapsing to one non-empty
    * cluster handled as NULL index values in the sweep. */
  private val constCrashers = Seq(
    "bd_dunn", "bd_silhouette", "davies_bouldin", "xie_beni",
    "index_report_roundtrip", "k_sweep", "k_sweep_determinism_contract",
    "optimal_k_select")

  constCrashers.foreach { key =>
    test(s"$key executes on a CONSTANT corpus (crashed pre-round-13)") {
      val rows = SparkEntry.queries(key)(spark, constDir).collect()
      assert(rows != null)
    }
  }

  test("constant-corpus conventions bind: undefined indices are NULL, never zero") {
    val dunn = SparkEntry.queries("bd_dunn")(spark, constDir).collect()
    assert(dunn.length == 1 && dunn(0).isNullAt(0), s"dunn should be NULL: ${dunn.toSeq}")
    val xb = SparkEntry.queries("xie_beni")(spark, constDir).collect()
    assert(xb.length == 1 && xb(0).isNullAt(0), s"xie_beni should be NULL: ${xb.toSeq}")
    // wssse IS defined (0.0 — all points on their centroid)
    val w = SparkEntry.queries("wssse")(spark, constDir).collect()
    assert(w.length == 1 && w(0).getDouble(0) == 0.0)
    // ... and so is every cluster's diameter proxy
    val st = SparkEntry.queries("intra_cluster_stats")(spark, constDir).collect()
    assert(st.nonEmpty && st.forall(_.getAs[Double]("max_dist") == 0.0),
      s"constant-corpus max_dist must be 0: ${st.toSeq}")
    // the k-means fit collapses to ONE center for every k (one distinct
    // candidate), so each sweep row is WSSSE 0 with the three validity
    // indices undefined
    val sweep = SparkEntry.queries("k_sweep")(spark, constDir).collect()
    assert(sweep.nonEmpty, "the constant corpus still sweeps k = 2..6")
    sweep.foreach { r =>
      assert(r.getAs[Double]("wssse") == 0.0, s"constant-corpus wssse must be 0: $r")
      Seq("bd_silhouette", "bd_dunn", "davies_bouldin").foreach { c =>
        assert(r.isNullAt(r.fieldIndex(c)), s"$c must be NULL on a one-cluster fit: $r")
      }
    }
  }

  test("MLlib silhouette scores a = b = 0 points as 0.0 AND keeps them in the mean") {
    // the oracle's `GREATEST(a, b) = 0 THEN 0.0` arm mirrors MLlib's
    // branch form (`if (a < b) ... else if (a > b) ... else 0.0`):
    // two clusters COINCIDENT at the origin (their points have a = b
    // = 0) plus one real cluster — if MLlib skipped the degenerate
    // points the mean would be 0.966, not the hand-computed 0.322037
    // that includes four zeros. Guards the oracle arm against
    // "simplification" and against a DuckDB NaN-vs-NULL flip.
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(0.0, 0.0), 0), (2L, Seq(0.0, 0.0), 0), // cluster A at origin
      (3L, Seq(0.0, 0.0), 1), (4L, Seq(0.0, 0.0), 1), // cluster B at origin too
      (5L, Seq(10.0, 0.0), 2), (6L, Seq(12.0, 0.0), 2) // real cluster C
    ).toDF("vec_id", "features", "cluster")
    val sil = MllibSilhouetteReference.evaluate(pts)
    // hand-computed: A/B points s = 0 (a = b = 0); C: 1 - 4/100 and
    // 1 - 4/144; mean over all SIX = 0.3220370...
    val expected = (0.0 * 4 + (1 - 4.0 / 100) + (1 - 4.0 / 144)) / 6
    assert(math.abs(sil - expected) < 1e-9,
      s"MLlib silhouette $sil != hand-computed $expected — the degenerate-point convention moved")
    // ... and the index profile's closed form keeps the same convention
    MllibSilhouetteReference.assertMatches(pts, "coincident centroids")
  }

  test("the profile's MLlib silhouette equals ClusteringEvaluator on the hostile fixture, singleton included") {
    // label -1 is a one-point cluster: MLlib scores it 0 inside the mean
    val p = MllibSilhouetteReference.assertMatches(graft.engine.Tables.points(spark, dir), "hostile seed0")
    assert(p.clusters.exists(c => c.cluster == -1 && c.n == 1),
      "the hostile fixture lost its label -1 singleton — the test would be vacuous")
  }

  test("cleanVectors excludes exactly the NULL, RAGGED and NON-FINITE rows") {
    // fixture embeddings: 125 rows; vec 2 NULL embedding, vec 3 NULL
    // element, vec 9 NULL label, vecs 121/122 ragged (32-d / 1-d vs
    // the declared graft.vector.dim = 64), vecs 123/124/125 carrying
    // NaN / +Inf / −Inf components — the declared vector universe is
    // the remaining 117 (tools/AdversarialFixture embBase)
    val pts = graft.engine.Tables.points(spark, dir)
    assert(pts.count() == 117)
    val ids = pts.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L) && !ids.contains(3L) && !ids.contains(9L))
    assert(!ids.contains(121L) && !ids.contains(122L),
      "ragged-dimension rows must exit the declared vector universe")
    assert(!ids.contains(123L) && !ids.contains(124L) && !ids.contains(125L),
      "non-finite rows must exit the declared vector universe")
    assert(ids.contains(1L) && ids.contains(10L)) // zero vector and label -1 STAY
  }

  test("a uniform non-declared-width corpus raises the DESIGNED dimension-gate error") {
    // round-14 ADVICE (medium): before the probe, a 32-d corpus under
    // the default graft.vector.dim=64 was silently EMPTIED by the size
    // clause — every vector query returned zero rows with no hint that
    // one conf knob was the cause. Now the emptied-by-dimension case
    // raises a designed error naming the knob; declaring the width
    // makes the same dir work unchanged.
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft_dimgate")
    (1L to 20L).map { i =>
      (i, (0 until 32).map(j => ((i + j) % 5).toFloat / 10f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.engine.Tables.points(spark, d).collect()
    }
    assert(e.getMessage.contains("graft.vector.dim"),
      s"error must name the knob: ${e.getMessage}")
    // the similarity family reads the universe through its vector
    // memo: the gate still raises there, and nothing is memoized
    Seq(1, 2).foreach { _ =>
      val viaMemo = intercept[IllegalArgumentException] {
        SparkEntry.queries("embedding_norm_stats")(spark, d).collect()
      }
      assert(viaMemo.getMessage.contains("graft.vector.dim"), viaMemo.getMessage)
    }
    withConf("graft.vector.dim", "32") {
      assert(graft.engine.Tables.points(spark, d).count() == 20)
      assert(SparkEntry.queries("embedding_norm_stats")(spark, d).collect().map(_.getLong(1)).sum == 20)
    }
    // a MIXED corpus (some rows at the declared width) stays a silent
    // boundary, not an error — ragged rows legitimately exit the universe
    assert(graft.engine.Tables.points(spark, dir).count() == 117)
  }

  test("duplicate primary keys raise the DESIGNED contract error; skip-conf opens the escape") {
    // round 15: two rows sharing doc_id/vec_id make every keeper
    // window, id-equi-join and per-id aggregation UNDEFINED (probing
    // them through the parity gate produced 31 silent cross-engine
    // divergences) — the table loaders reject the corpus loudly at
    // first read instead (Tables.requirePk; memoized once per
    // session+fingerprint, so the scan is amortized, and
    // epoch-independent so bench cold epochs don't re-bill it).
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft_pkspec")
    Seq((1L, "one body", "en", "s0", 8L), (1L, "other body", "fr", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    Seq((7L, (0 until 64).map(_.toFloat), 0), (7L, (0 until 64).map(j => (j + 1).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val ed = intercept[IllegalArgumentException] {
      graft.engine.Tables.documents(spark, d).collect()
    }
    assert(ed.getMessage.contains("primary-key contract") && ed.getMessage.contains("doc_id"),
      s"documents must name the contract and key: ${ed.getMessage}")
    val ev = intercept[IllegalArgumentException] {
      graft.engine.Tables.embeddings(spark, d).collect()
    }
    assert(ev.getMessage.contains("vec_id"), ev.getMessage)
    withConf("graft.pk.check", "skip") {
      assert(graft.engine.Tables.documents(spark, d).count() == 2)
      assert(graft.engine.Tables.embeddings(spark, d).count() == 2)
    }
    // a NULL id is the same contract (nondeterministic keeper, no join
    // identity): pin the NULL arm of the error message
    val d2 = graft.engine.TempDirs.scratch("graft_pkspec_null")
    Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$d2/documents.parquet")
    val en = intercept[IllegalArgumentException] {
      graft.engine.Tables.documents(spark, d2).collect()
    }
    assert(en.getMessage.contains("NULL ids"), en.getMessage)
  }

  test("a RAGGED corpus neither crashes the MLlib fits nor the pairwise kernels") {
    // before the dimension gate, kmeans_train died with MLlib's
    // "Dimensions mismatch when adding new sample" and knn_per_vector
    // with an AIOOBE on the truncated array — the corrupt rows now
    // exit the universe at the scan, so the fits see a uniform width
    assert(SparkEntry.queries("kmeans_train")(spark, dir).collect().nonEmpty)
    assert(SparkEntry.queries("knn_per_vector")(spark, dir).collect() != null)
  }

  // ---- the declared magnitude ceilings (round-13 verdict item 2) ----
  // Tables.maxAbsComponent = 1e7: past it, incremental_ann_upsert's
  // exact-integer core loses its int64 headroom and MLlib's closed-form
  // silhouette drifts from the oracle below ROUND 6 — both now raise
  // ONE designed error instead of an engine-dependent abort or (worse)
  // a silently wrong value. These pins feed a corpus with a single
  // out-of-domain component and intercept exactly that error.

  /** Minimal embeddings-only fixture dir: 40 64-dim vectors (the
    * declared `graft.vector.dim` — the hostile row must pass THROUGH
    * the universe to reach the magnitude gates), labels cycling 0..2,
    * component 0 of vec 3 set to `mag`. */
  private def magDir(mag: Double): String = {
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft_magspec")
    (1L to 40L).map { i =>
      val base = (0 until 64).map(j => ((i * 7 + j) % 5).toFloat / 10f)
      (i, if (i == 3L) base.updated(0, mag.toFloat) else base, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def rootMessages(t: Throwable): String = {
    var cur = t; val sb = new StringBuilder
    while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
    sb.toString
  }

  test("incremental_ann_upsert raises the DESIGNED domain error at |component| >= 1e7") {
    val e = intercept[Exception] {
      SparkEntry.queries("incremental_ann_upsert")(spark, magDir(1e7)).collect()
    }
    assert(rootMessages(e).contains("declared quantization domain"),
      s"expected the designed domain error, got: ${rootMessages(e).take(500)}")
  }

  test("silhouette_mllib raises the DESIGNED domain error at |component| >= 1e7") {
    val e = intercept[Exception] {
      SparkEntry.queries("silhouette_mllib")(spark, magDir(1e7)).collect()
    }
    assert(rootMessages(e).contains("float-cancellation ceiling"),
      s"expected the designed domain error, got: ${rootMessages(e).take(500)}")
  }

  test("the magnitude gates are not over-broad: 1e6 components stay in-domain") {
    val d = magDir(1e6)
    assert(SparkEntry.queries("incremental_ann_upsert")(spark, d).collect() != null)
    assert(SparkEntry.queries("silhouette_mllib")(spark, d).collect().length == 1)
  }

  test("foreachBatch sink never lands duplicate (window, NULL) groups from the '' fold") {
    // '' folds into NULL BEFORE the aggregate — folding after would
    // land two rows per window in the __HIVE_DEFAULT_PARTITION__ dir
    val out = SparkEntry.queries("stream_foreach_batch")(spark, dir)
    val dupKeys = out.groupBy("wstart", "event_type").count()
      .filter(col("count") > 1).collect()
    assert(dupKeys.isEmpty, s"duplicate landed groups: ${dupKeys.mkString(",")}")
  }
}
