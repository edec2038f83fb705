package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.text.TextOps

/** Engagement auditor for the hot-bucket SHARD over a DATA-driven
  * fixture (round-13 verdict item 4): where MinhashCapSpec's forced-
  * shard tests prove the pair surface invariant under a FORCED shard
  * conf, this tool proves
  * the shard actually ENGAGED on the fixture it is pointed at —
  * i.e. the largest MinHash band bucket exceeds the effective segment
  * size, so minhashPairs' (bucket, segment) aggregation necessarily
  * ran multi-segment with overlap replicas — and audits the emitted
  * pair count for that bucket against the exact windowed-emission
  * bound Σ_{rank} min(cap, n − rank).
  *
  * Conf arrives via SPARK_GRAFT_CONF ([[graft.engine.ConfEnv]]) — the
  * SAME env the probe gate hands graft.Verify, so the audited run and
  * the parity run see identical knobs. Exit 1 if the shard did NOT
  * engage (max bucket ≤ shard) or the audit count diverges.
  *
  * Usage: runMain graft.tools.ShardEngage <sfDir>
  */
object ShardEngage {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: ShardEngage <sfDir>"))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.ConfEnv(spark)

    val cap = TextOps.bucketCap(spark)
    val shard = math.max(TextOps.shardSize(spark), cap) // minhashPairs' clamp
    val sig = TextOps.minhashSignatures(spark, dir)
    // band-0 signature, chained base-31 exactly as minhashPairs' chain()
    val bs0 = ((col("m0") * 31 + col("m1")) * 31 + col("m2")) * 31 + col("m3")
    val top = sig.groupBy(bs0.as("bs")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n")).limit(1).collect()
    val maxBucket = if (top.isEmpty) 0L else top(0).getLong(1)
    if (maxBucket <= shard) {
      System.err.println(
        s"[shard-engage] NOT ENGAGED: max band bucket $maxBucket ≤ shard $shard (cap=$cap) at $dir")
      spark.stop(); sys.exit(1)
    }
    val segments = (maxBucket + shard - 1) / shard
    // pair-count audit: members of the hot bucket, engine pair surface
    // restricted to BAND 0's emission — a member pair at rank distance
    // ≤ cap in the band-0 bucket is emitted by band 0 (the first band
    // is never suppressed), and a member pair past cap may STILL be
    // legitimately emitted by a LATER band when a filler doc sharing
    // that band's signature interleaves the members' ranks there
    // (round-14 ADVICE: counting those against band 0's exact bound
    // was a spurious-divergence hazard). Band-0 ranks recompute
    // driver-side: the bucket is exactly `members`, ordered by doc_id
    // — the same ROW_NUMBER the engine windows on.
    val members = sig.filter(bs0 === top(0).get(0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rank0 = members.toArray.sorted.zipWithIndex.toMap
    val m = spark.sparkContext.broadcast(rank0)
    val got = TextOps.minhashPairs(spark, dir)
      .filter { r =>
        val a = m.value.get(r.getLong(0)); val b = m.value.get(r.getLong(1))
        a.isDefined && b.isDefined && math.abs(a.get - b.get) <= cap
      }
      .count()
    val n = members.size
    val expect = (1 to n).map(i => math.min(cap.toLong, (n - i).toLong)).sum
    if (got != expect) {
      System.err.println(
        s"[shard-engage] PAIR AUDIT DIVERGED: bucket n=$n cap=$cap emitted $got pairs, bound says $expect")
      spark.stop(); sys.exit(1)
    }
    // ASCII-only: this line lands in the gate's captured logs, where a
    // non-UTF8 console locale garbles multibyte glyphs
    println(s"[shard-engage] ENGAGED at $dir: max bucket $maxBucket > shard $shard " +
      s"($segments rank segments, cap=$cap); pair audit exact: $got = sum(min(cap, n-rank))")
    spark.stop()
  }
}
