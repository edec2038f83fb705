package graft

import graft.engine.SessionCache

/** Contract of the memo-epoch mechanism the bench's cold-re-run
  * protocol depends on (Bench.scala `ownMemo` handling): inside
  * `freshEpoch` every lookup misses and rebuilds; outside it the
  * original entries keep serving; nesting/exception restore the
  * previous epoch.
  */
class SessionCacheSpec extends SparkSpec {

  test("get memoizes per (session, key); freshEpoch forces a rebuild then restores") {
    val cache = new SessionCache[Int]
    var builds = 0
    def fetch(): Int = cache.get(spark, "k") { builds += 1; builds }

    assert(fetch() == 1 && builds == 1)
    assert(fetch() == 1 && builds == 1, "second get must serve the memo")

    val inEpoch = SessionCache.freshEpoch("t") { fetch() }
    assert(inEpoch == 2 && builds == 2, "freshEpoch lookup must rebuild")

    assert(fetch() == 1 && builds == 2,
      "after freshEpoch the ORIGINAL entry must serve again")
  }

  test("distinct epoch tags do not share entries; epoch survives a throwing body") {
    val cache = new SessionCache[Int]
    var builds = 0
    def fetch(): Int = cache.get(spark, "k") { builds += 1; builds }
    fetch() // builds == 1 under the default epoch

    SessionCache.freshEpoch("a")(fetch())
    SessionCache.freshEpoch("b")(fetch())
    assert(builds == 3, "each epoch tag is its own key space")

    intercept[RuntimeException] {
      SessionCache.freshEpoch("boom") { throw new RuntimeException("x") }
    }
    assert(fetch() == 1 && builds == 3,
      "a throwing freshEpoch body must restore the previous epoch")
  }

  test("throwaway-epoch entries are evicted at epoch exit (cold re-runs stay cold AND unpinned)") {
    // Two live hazards this pins: (a) Bench's cold-billing briefly
    // used ONE tag per query for both timed attempts — the first
    // attempt built the memo under the temp epoch and the second read
    // it back, recording a warm memo read (k_sweep billed 0.11 s);
    // (b) entries built under throwaway epochs were never dropped,
    // pinning each cold attempt's checkpointed chain for the
    // session's lifetime. Eviction at epoch exit closes both: a
    // reused tag re-BUILDS (nothing survived the previous exit) and
    // nothing accumulates. Bench still tags per attempt — defense in
    // depth, and the tag names the attempt in any diagnostics.
    val cache = new SessionCache[Int]
    var builds = 0
    def fetch(): Int = cache.get(spark, "k") { builds += 1; builds }
    fetch() // normal-epoch entry, builds == 1
    SessionCache.freshEpoch("same")(fetch())
    SessionCache.freshEpoch("same")(fetch())
    assert(builds == 3, "a reused tag must rebuild — its entry was evicted at exit")
    assert(fetch() == 1 && builds == 3,
      "eviction must not touch normal-epoch entries")
  }

  test("flipping graft.fan.postShuffle mid-session rebuilds the re-fanned memos") {
    // the gate decides the width each artifact is checkpointed at; a
    // memo keyed without it served the other width after a flip
    import graft.engine.sim.Similarity
    val memos = Seq[(String, () => AnyRef)](
      "cellRankedCached" -> (() => Similarity.cellRankedCached(spark, sf0001)),
      "lshSignaturesCached" -> (() => Similarity.lshSignaturesCached(spark, sf0001)))
    SessionCache.freshEpoch("fan-flip") {
      memos.foreach { case (name, get) =>
        val on = get()
        val off = withConf("graft.fan.postShuffle", "off")(get())
        assert(off ne on, s"$name served the re-fanned artifact with the gate off")
        assert(withConf("graft.fan.postShuffle", "off")(get()) eq off, s"$name did not memoize the gate-off build")
        assert(get() eq on, s"$name lost its gate-on entry")
      }
    }
  }

  test("flipping graft.vector.dim mid-session rebuilds the vector memo and each memo built on it") {
    // the width gate decides which rows form the vector universe; a
    // memo keyed without it served the other width's rows after a flip
    import org.apache.spark.sql.functions.{col, size}
    import spark.implicits._
    import graft.engine.cluster.{ClusterQueries, KMeansSweep}
    import graft.engine.sim.Similarity
    // 30 vectors at width 8 and 30 at width 4: either declared width
    // keeps a non-empty universe
    val d = graft.engine.TempDirs.scratch("graft_dimflip")
    (1L to 60L).map { i =>
      (i, Seq.tabulate(if (i <= 30) 8 else 4)(j => ((i * 7 + j * 3) % 11 - 5).toFloat / 10f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "CAST(label AS INT) AS label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    // memos held as objects compare by identity; the k_sweep rows and
    // the report dir sit behind fresh frames, so compare what they serve
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Seq[_], y: Seq[_]) => x == y
      case (x: AnyRef, y: AnyRef) => x eq y
    }
    val memos = Seq[(String, () => Any)](
      "vecs" -> (() => Similarity.vecs(spark, d)),
      "sampledTruth" -> (() => Similarity.sampledTruth(spark, d)),
      "cellRankedCached" -> (() => Similarity.cellRankedCached(spark, d)),
      "lshSignaturesCached" -> (() => Similarity.lshSignaturesCached(spark, d)),
      "annAnswer(lsh)" -> (() => Similarity.annAnswer(spark, d, "lsh")),
      "annAnswer(ivf)" -> (() => Similarity.annAnswer(spark, d, "ivf")),
      "ClusterQueries.pts" -> (() => ClusterQueries.pts(spark, d)),
      "ClusterQueries.profile" -> (() => ClusterQueries.profile(spark, d)),
      "k_sweep rows" -> (() => KMeansSweep.queries("k_sweep")(spark, d).collect().toSeq),
      "index_report_roundtrip report" ->
        (() => KMeansSweep.queries("index_report_roundtrip")(spark, d).inputFiles.toSeq.sorted))
    def at[A](dim: Int)(f: => A): A = withConf("graft.vector.dim", dim.toString)(f)
    SessionCache.freshEpoch("dim-flip") {
      memos.foreach { case (name, get) =>
        val wide = at(8)(get())
        val narrow = at(4)(get())
        assert(!same(narrow, wide), s"$name served the width-8 build under width 4")
        assert(same(at(4)(get()), narrow), s"$name did not memoize the width-4 build")
        assert(same(at(8)(get()), wide), s"$name lost its width-8 entry")
      }
      Seq(8, 4).foreach { dim =>
        val widths = at(dim)(Similarity.vecs(spark, d)).select(size(col("f"))).distinct().as[Int].collect()
        assert(widths.toSeq == Seq(dim), s"vectors under width $dim have widths ${widths.mkString(",")}")
      }
    }
  }

  test("every graft.* conf is part of every memo key, and only graft.* confs are") {
    // the rule itself: a key that no code reads still rebuilds, and
    // restoring it serves the first entry again; the spark.sql.* confs
    // that queries flip internally never rebuild a memo
    import graft.engine.cluster.ClusterQueries
    val cache = new SessionCache[Int]
    var builds = 0
    def fetch(): Int = cache.get(spark, "k") { builds += 1; builds }
    def fetchStable(): Int = cache.getStable(spark, "s") { builds += 1; builds }
    SessionCache.freshEpoch("conf-rule") {
      val pts = ClusterQueries.pts(spark, sf0001)
      val (a, b) = (fetch(), fetchStable())
      withConf("graft.test.unread", "1") {
        assert(ClusterQueries.pts(spark, sf0001) ne pts, "an unread graft.* key served the old frame memo")
        assert(fetch() != a && fetchStable() != b, "an unread graft.* key served the old entries")
      }
      assert(ClusterQueries.pts(spark, sf0001) eq pts, "restoring the key did not serve the old frame memo")
      assert(fetch() == a && fetchStable() == b, "restoring the key did not serve the old entries")
      withConf("spark.sql.shuffle.partitions", "3") {
        assert(ClusterQueries.pts(spark, sf0001) eq pts, "a spark.sql.* flip rebuilt a frame memo")
        assert(fetch() == a && fetchStable() == b, "a spark.sql.* flip rebuilt a memo")
      }
    }
  }
}
