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
    import graft.engine.text.TextOps
    val memos = Seq[(String, () => AnyRef)](
      "ngramSetCached" -> (() => TextOps.ngramSetCached(spark, sf0001, 8, Seq("doc_id", "source"))),
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
}
