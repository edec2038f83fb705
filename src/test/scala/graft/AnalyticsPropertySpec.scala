package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.rel.RelQueries

/** Property tests for the event-analytics family: each operator is
  * compared EXACTLY against an independent plain-Scala model on
  * randomized event logs — the oracle-independent correctness net for
  * semantics the fixture's smooth distributions never stress (ties,
  * empty stages, single-day cohorts).
  */
class AnalyticsPropertySpec extends SparkSpec {
  import spark.implicits._

  // (event_id, user_id, es seconds, type) — small second range forces
  // same-second ties; few users force dense per-user histories
  private val logGen: Gen[List[(Long, Long, Long, String)]] = for {
    n <- Gen.choose(5, 60)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 6L)
      es <- Gen.choose(0L, 200000L)
      t <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (u, es, t))
  } yield rows.zipWithIndex.map { case ((u, es, t), i) => (i.toLong, u, es, t) }

  private def cases(count: Int): Seq[List[(Long, Long, Long, String)]] =
    (1 to count).flatMap(i => logGen.apply(Gen.Parameters.default, Seed(77L + i)))

  private def eventsDir(rows: Seq[(Long, Long, Long, String)]): String = {
    val d = graft.engine.TempDirs.scratch("graft-anprop")
    rows.map { case (id, u, es, t) => (id, u, es * 1000000000L, t) }
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  /** The funnel model: first view; first click in [tv, tv+3600];
    * first purchase in [tc, tc+86400]. */
  private def funnelModel(rows: Seq[(Long, Long, Long, String)]): Map[Int, Long] =
    rows.groupBy(_._2).map { case (_, evs) =>
      val tv = evs.filter(_._4 == "view").map(_._3).sorted.headOption
      val tc = tv.flatMap(v => evs.filter(e => e._4 == "click" && e._3 >= v && e._3 <= v + 3600)
        .map(_._3).sorted.headOption)
      val tp = tc.flatMap(c => evs.filter(e => e._4 == "purchase" && e._3 >= c && e._3 <= c + 86400)
        .map(_._3).sorted.headOption)
      if (tp.isDefined) 3 else if (tc.isDefined) 2 else if (tv.isDefined) 1 else 0
    }.groupBy(identity).map { case (st, xs) => st -> xs.size.toLong }

  test("event_funnel equals the plain-Scala model on random logs") {
    cases(4).foreach { rows =>
      val got = RelQueries.queries("event_funnel")(spark, eventsDir(rows))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == funnelModel(rows), s"log: $rows")
    }
  }

  test("retention_cohort equals the plain-Scala model on random logs") {
    cases(4).foreach { rows =>
      val model = rows.map(e => (e._2, e._3 / 86400)).distinct
        .groupBy(_._1).toSeq.flatMap { case (_, days) =>
          val c = days.map(_._2).min
          days.map(d => (c, d._2 - c))
        }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      val got = RelQueries.queries("retention_cohort")(spark, eventsDir(rows))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == model, s"log: $rows")
    }
  }

  test("anomaly_zscore: counts partition the log; z sums to ~0 per multi-day type") {
    cases(4).foreach { rows =>
      val out = RelQueries.queries("anomaly_zscore")(spark, eventsDir(rows))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(out.map(_._3).sum == rows.length.toLong)
      // model day counts agree
      val model = rows.map(e => (e._4, e._3 / 86400)).groupBy(identity)
        .map { case (k, xs) => k -> xs.size.toLong }
      assert(out.map(r => (r._1, r._2) -> r._3).toMap == model)
      // z-scores of a (type, day)-count vector sum to 0 by definition
      out.groupBy(_._1).values.foreach { g =>
        val zs = g.flatMap(_._4)
        if (zs.nonEmpty) assert(math.abs(zs.sum) < 1e-3, s"Σz=${zs.sum}")
      }
    }
  }
}
