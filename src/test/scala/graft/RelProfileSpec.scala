package graft

import graft.engine.rel.RelQueries

/** Boundary semantics of the profiling/window-distribution operators
  * on crafted rows — exact bucket-edge and single-row-partition cases
  * the fixture's smooth distributions never land on.
  */
class RelProfileSpec extends SparkSpec {
  import spark.implicits._

  private def dirWith(writes: (String, org.apache.spark.sql.DataFrame)*): String = {
    val d = graft.engine.TempDirs.scratch("graft-relprof")
    writes.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    d
  }

  test("q_histogram: integer-cent bucket edges are exact, range covers min..max") {
    // prices 0.00 .. 2.00 in cents: lo=0, hi=200, w = 200 DIV 20 + 1 = 11
    // → cents c lands in bucket c DIV 11; 200 DIV 11 = 18 (max bucket)
    val li = (0 to 200).map(c => (1L, c / 100.0)).toDF("l_orderkey", "l_extendedprice")
    val out = RelQueries.queries("q_histogram")(spark, dirWith("lineitem" -> li))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 19) // buckets 0..18, all populated
    assert(out.head == ((0L, 11L, 0L, 10L)))   // cents 0..10
    assert(out.last == ((18L, 3L, 198L, 200L))) // cents 198..200
    assert(out.map(_._2).sum == 201L)
  }

  test("q_ntile: quartiles split 4/4/4/... with remainder to the front") {
    // one nation, 6 rows ordered by balance → ntile(4) sizes 2,2,1,1
    val c = (1 to 6).map(i => (i.toLong, s"c$i", 7, i * 10.0, "m"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val out = RelQueries.queries("q_ntile")(spark, dirWith("customer" -> c))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1, 2L, 10.0, 20.0), (2, 2L, 30.0, 40.0),
      (3, 1L, 50.0, 50.0), (4, 1L, 60.0, 60.0)))
  }

  test("q_histogram partitions any price list: counts sum to n, buckets ⊆ [0,19], ranges nest") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(1, 300)
      xs <- Gen.listOfN(n, Gen.choose(0, 5000000))
    } yield xs.map(_ / 100.0)
    (1 to 4).flatMap(i => gen.apply(Gen.Parameters.default, Seed(31L + i))).foreach { prices =>
      val li = prices.map(p => (1L, p)).toDF("l_orderkey", "l_extendedprice")
      val d = dirWith("lineitem" -> li)
      val out = RelQueries.queries("q_histogram")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._2).sum == prices.length.toLong)
      assert(out.forall(b => b._1 >= 0 && b._1 <= 19), s"bucket ids: ${out.map(_._1).toList}")
      // per-bucket min/max must sit inside the bucket's cent range
      val cents = prices.map(p => math.round(p * 100))
      val (lo, hi) = (cents.min, cents.max)
      val w = (hi - lo) / 20 + 1
      out.foreach { case (b, _, mn, mx) =>
        assert(mn >= lo + b * w && mx < lo + (b + 1) * w && mn <= mx,
          s"bucket $b range [$mn,$mx] outside [${lo + b * w}, ${lo + (b + 1) * w})")
      }
    }
  }

  test("q_window_distribution: single-row partition ⇒ pr 0, cd 1; exact rationals") {
    val c = Seq(
      (1L, "a", 1, 5.0, "m"), (2L, "b", 1, 7.0, "m"), (3L, "c", 1, 9.0, "m"),
      (4L, "d", 2, 3.0, "m"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val out = RelQueries.queries("q_window_distribution")(spark, dirWith("customer" -> c))
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) == ((0.0, 0.333333)))
    assert(out(2L) == ((0.5, 0.666667)))
    assert(out(3L) == ((1.0, 1.0)))
    assert(out(4L) == ((0.0, 1.0))) // lone row in its nation
  }

  test("q_range_join_binned ≡ q_join_range row-for-row (the binned plan is invisible)") {
    val a = RelQueries.queries("q_join_range")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = RelQueries.queries("q_range_join_binned")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.nonEmpty && a.sameElements(b),
      s"binned range join diverged: ${a.diff(b).take(3).toSeq} vs ${b.diff(a).take(3).toSeq}")
  }

  test("q_join_bloom_prefilter: the bloom actually prunes the probe side") {
    import graft.engine.Tables
    import org.apache.spark.sql.functions.col
    val urgent = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bloom = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val li = Tables.lineitem(spark, sf0001)
    val total = li.count()
    val might = graft.engine.sketch.Sketches.udfMightContainLong(
      spark.sparkContext.broadcast(bloom))
    val passed = li.filter(might(col("l_orderkey"))).count()
    // urgent is ~20% of orders; with fpp 1% the expected pass-through
    // is ~21% of lineitem. The old < 60% bar tolerated a mostly-broken
    // filter (wrong column hashed, fpp ignored); < 30% binds while
    // leaving headroom over the expected ~21%.
    assert(passed < total * 3 / 10, s"bloom passed $passed of $total rows")
  }

  test("q_join_skew_aqe: OptimizeSkewedJoin actually split the skewed partition") {
    // the builder is EAGER (contract query): building the frame runs
    // the unsalted join under session-scoped skew thresholds and
    // captures the final adaptive plan
    val out = RelQueries.queries("q_join_skew_aqe")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val plan = RelQueries.lastSkewJoinPlan(spark)
    // target the join key per the Plans discipline — a bare
    // "contains skew" would match log noise, and skew=true is only
    // emitted when AQE genuinely split a skewed partition
    assert(plan.contains("SortMergeJoin(skew=true) [lang"),
      s"no skew-split SMJ in final adaptive plan:\n$plan")
    // confs were restored: the session's broadcast threshold is back
    // to its default (unset ⇒ getOption yields the global default)
    assert(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "default") != "4KB")
  }

  test("q_cogroup_reconcile: flags and counts are mutually consistent") {
    val rows = RelQueries.queries("q_cogroup_reconcile")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (no, ne, both) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(no + ne > 0, s"keyless row: $r")
      assert(both == (no > 0 && ne > 0), s"flag inconsistent: $r")
    }
  }
}
