package graft

import graft.engine.rel.RelQueries

/** Boundary semantics of the event-log operators on crafted rows —
  * cases the fixture's ~1-event-per-260-s density never exercises
  * (same-second ties, exact-gap boundaries), so the DuckDB oracle
  * alone can't pin them.
  */
class EventOpsSpec extends SparkSpec {

  test("asof: same-second click matches (inclusive), event_id breaks click ties") {
    import spark.implicits._
    // user 1: clicks id 10 @100, id 11 @100 (tie → 11 wins), error id 20 @100
    //         (same second as the clicks → inclusive match, gap 0)
    // user 2: error id 30 @50 with no prior click → NULLs
    //         then click id 31 @60, error id 32 @120 → gap 60
    val ev = Seq(
      (10L, 1L, 100L, 0), (11L, 1L, 100L, 0), (20L, 1L, 100L, 1),
      (30L, 2L, 50L, 1), (31L, 2L, 60L, 0), (32L, 2L, 120L, 1),
    ).toDF("event_id", "user_id", "es", "kind")
    val out = RelQueries.asofCore(ev).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toList
    assert(out == List(
      (20L, Some(11L), Some(0L)),  // inclusive same-second, highest click id
      (30L, None, None),           // no prior click
      (32L, Some(31L), Some(60L))))
  }

  test("asof: a click never matches a LATER error's past (carry is per-user)") {
    import spark.implicits._
    // user 1's click must not leak into user 2's error
    val ev = Seq((1L, 1L, 10L, 0), (2L, 2L, 20L, 1))
      .toDF("event_id", "user_id", "es", "kind")
    val out = RelQueries.asofCore(ev).collect()
    assert(out.length == 1 && out(0).isNullAt(3), "cross-user carry leaked")
  }

  test("sessionize: exactly-1800 s gap extends the session, 1801 s opens a new one") {
    import spark.implicits._
    // user 1: 0 → 1800 (extends: gap == 1800) → 3601 (new: gap 1801)
    // user 2: single event
    val ev = Seq(
      (1L, 1L, 0L, 1.0), (2L, 1L, 1800L, 1.0), (3L, 1L, 3601L, 1.0),
      (4L, 2L, 500L, 2.5),
    ).toDF("event_id", "user_id", "es", "value")
    val out = RelQueries.sessionizeCore(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList
    assert(out == List(
      (1L, 1L, 0L, 1800L, 2L),    // one session spanning the exact gap
      (1L, 2L, 3601L, 3601L, 1L), // the 1801-gap event starts session 2
      (2L, 1L, 500L, 500L, 1L)))
  }

  test("sessionize: same-second events order by event_id and never split") {
    import spark.implicits._
    val ev = Seq((2L, 1L, 100L, 1.0), (1L, 1L, 100L, 2.0))
      .toDF("event_id", "user_id", "es", "value")
    val out = RelQueries.sessionizeCore(ev).collect()
    assert(out.length == 1 && out(0).getLong(4) == 2L)
  }

  test("Tables.events normalizes both on-disk ts generations identically") {
    import spark.implicits._
    // The driver has shipped events.ts as TIMESTAMP(NANOS) (read as a
    // ns-epoch long) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ);
    // the loader must yield the same TimestampType rows for both.
    val rows = Seq((1L, 7L, 1000L, "view"), (2L, 8L, 2000L, "click"))
    val dNs = graft.engine.TempDirs.scratch("graft-evns")
    rows.map { case (id, u, es, t) => (id, u, es * 1000000000L, t) }
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dNs/events.parquet")
    val dUs = graft.engine.TempDirs.scratch("graft-evus")
    rows.toDF("event_id", "user_id", "es", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions.expr(
        "CAST(timestamp_micros(es * 1000000) AS TIMESTAMP_NTZ)"))
      .select("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dUs/events.parquet")
    val a = graft.engine.Tables.events(spark, dNs).orderBy("event_id").collect().toSeq
    val b = graft.engine.Tables.events(spark, dUs).orderBy("event_id").collect().toSeq
    assert(graft.engine.Tables.events(spark, dUs).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(a == b, s"ns-long and µs-ntz generations diverged: $a vs $b")
  }

  /** events.parquet fixture in the driver's on-disk shape: ts is a
    * LONG of epoch NANOseconds (Tables.events floors it to µs). */
  private def eventsDir(rows: Seq[(Long, Long, Long, String)]): String = {
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft-evops")
    rows.map { case (id, u, es, t) => (id, u, es * 1000000000L, t) }
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("event_funnel: window edges are inclusive (3600 s click, 86400 s purchase)") {
    // user 1: click exactly +3600 after first view, purchase exactly
    //         +86400 after that click → stage 3 (both edges inclusive)
    // user 2: click +3601 → outside the window → stage 1
    // user 3: click with no view at all → stage 0
    val d = eventsDir(Seq(
      (1L, 1L, 1000L, "view"), (2L, 1L, 4600L, "click"), (3L, 1L, 91000L, "purchase"),
      (4L, 2L, 1000L, "view"), (5L, 2L, 4601L, "click"),
      (6L, 3L, 1000L, "click")))
    val out = RelQueries.queries("event_funnel")(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 1L, 3 -> 1L), s"got $out")
  }

  test("event_funnel: the qualifying click is the FIRST in-window click") {
    // clicks at +100 and +200; purchase lands 86400 s after the SECOND
    // click — outside the first click's window → stage 2, proving the
    // funnel anchors on min(in-window click), not any click
    val d = eventsDir(Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 100L, "click"), (3L, 1L, 200L, "click"),
      (4L, 1L, 86600L, "purchase")))
    val out = RelQueries.queries("event_funnel")(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(2 -> 1L), s"got $out")
  }

  test("anomaly_zscore: constant or single-day types emit NULL z, never NaN") {
    // type 'a': days 0,1 with counts 2,1 → real z values
    // type 'b': days 0,1 with count 1 each → sd = 0 → NULL z
    // type 'c': single day → stddev_samp NULL → NULL z
    val d = eventsDir(Seq(
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "a"), (3L, 1L, 86410L, "a"),
      (4L, 1L, 10L, "b"), (5L, 1L, 86410L, "b"),
      (6L, 1L, 10L, "c")))
    val out = RelQueries.queries("anomaly_zscore")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toList
    assert(out == List(
      ("a", 0L, 2L, Some(0.707107)), ("a", 1L, 1L, Some(-0.707107)),
      ("b", 0L, 1L, None), ("b", 1L, 1L, None),
      ("c", 0L, 1L, None)), s"got $out")
  }

  test("retention_cohort: day buckets split at exact 86400 s boundaries") {
    // user 1: first event second 0 (day 0), again at 86399 (still day
    // 0 → one distinct user-day), at 86400 (day 1 → offset 1)
    // user 2: first event on day 2, active day 4 → offsets 0 and 2
    val d = eventsDir(Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 86399L, "view"), (3L, 1L, 86400L, "view"),
      (4L, 2L, 172800L, "view"), (5L, 2L, 345600L, "view")))
    val out = RelQueries.queries("retention_cohort")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List((0L, 0L, 1L), (0L, 1L, 1L), (2L, 0L, 1L), (2L, 2L, 1L)),
      s"got $out")
  }
}
