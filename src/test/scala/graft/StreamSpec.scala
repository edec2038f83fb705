package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming semantics (SURVEY.md §5.2-6): batch ≡ streaming
  * for the deterministic windowed aggregations, and watermark
  * late-data dropping, driven through MemoryStream micro-batches.
  */
class StreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // 12 rows / 2 users / 3 hour-windows, incl. one late row
  // (FIXTURES.md micro-fixture 3)
  private val rows = Seq(
    (1L, ts("2024-01-01 00:05:00"), 10L, "click", 1.0),
    (2L, ts("2024-01-01 00:15:00"), 10L, "view", 2.0),
    (3L, ts("2024-01-01 00:45:00"), 20L, "click", 3.0),
    (4L, ts("2024-01-01 01:05:00"), 10L, "click", 4.0),
    (5L, ts("2024-01-01 01:20:00"), 20L, "view", 5.0),
    (6L, ts("2024-01-01 01:55:00"), 20L, "click", 6.0),
    (7L, ts("2024-01-01 02:10:00"), 10L, "view", 7.0),
    (8L, ts("2024-01-01 02:30:00"), 10L, "click", 8.0),
    (9L, ts("2024-01-01 02:50:00"), 20L, "view", 9.0),
    (10L, ts("2024-01-01 02:59:00"), 10L, "click", 10.0),
    (11L, ts("2024-01-01 02:58:00"), 20L, "click", 11.0),
    (12L, ts("2024-01-01 00:10:00"), 10L, "view", 12.0), // late by > 2h
  )

  test("tumbling window agg: streaming (complete mode) ≡ batch") {
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)](spark)
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_v"))
    val q = agg.writeStream.format("memory").queryName("t_tumb")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(rows.take(6))
    q.processAllAvailable()
    mem.addData(rows.drop(6))
    q.processAllAvailable()
    q.stop()
    val streaming = spark.table("t_tumb").orderBy("ws", "event_type").collect()

    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_v"))
      .orderBy("ws", "event_type").collect()

    assert(streaming.toSeq == batch.toSeq)
  }

  test("checkpoint restart: state and source offsets recover exactly-once across a stop") {
    // The production streaming contract: a query stopped mid-stream
    // and restarted from its checkpoint must (a) NOT re-read files it
    // already committed, (b) restore the state store, so a window
    // spanning the restart merges pre- and post-restart rows, and
    // (c) restore the watermark, so a row late relative to run 1 but
    // above the recovered watermark is still accepted. The planted
    // user's count of 3 (2 from run-1 state + 1 late row in run 2)
    // separates every failure mode: lost state → 1, re-read input
    // with state → 5.
    val base = graft.engine.TempDirs.scratch("graft-restart")
    val in = s"$base/in"; val out = s"$base/out"; val chk = s"$base/chk"
    def minute(m: Int) = new Timestamp(1704067200000L + m * 60000L)
    def write(name: String, data: Seq[(Long, Timestamp)]): Unit = {
      // file-source inputs must appear atomically: stage + rename
      data.toDF("user_id", "ts").coalesce(1).write.parquet(s"$in/.stage_$name")
      val staged = new java.io.File(s"$in/.stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(staged.renameTo(new java.io.File(s"$in/$name.parquet")))
    }
    def runOnce(): Unit = withConf("spark.sql.shuffle.partitions", "4") {
      val q = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP").option("pathGlobFilter", "*.parquet")
        .parquet(in)
        .withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("cnt"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: window W1=[0,5) holds u1×2, u2×1; a row at minute 7
    // advances the watermark to 2 — W1 stays open in state
    write("f1", Seq((1L, minute(1)), (1L, minute(2)), (2L, minute(3)),
      (9L, minute(7))))
    runOnce()
    // run 2 (fresh query object, same checkpoint): one MORE W1 row
    // for u1 at minute 4 — late vs run 1's max but above the
    // recovered watermark — plus minute-16/17 rows pushing the
    // watermark to 12, which finalizes W1 and W2 for append emission
    write("f2", Seq((1L, minute(4)), (3L, minute(16)), (3L, minute(17))))
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = (m: Int) => 1704067200L + m * 60
    assert(got.contains((w(0), 1L, 3L)),
      s"cross-restart window count wrong (state or offsets not recovered): $got")
    assert(got.contains((w(0), 2L, 1L)) && got.contains((w(5), 9L, 1L)), s"got $got")
    val dups = spark.read.parquet(out).groupBy("wstart", "user_id")
      .count().filter(col("count") > 1).count()
    assert(dups == 0, "restart emitted a (window, user) row twice")
  }

  test("watermark drops data later than the threshold") {
    val mem = MemoryStream[(Long, Timestamp, Double)](spark)
    val df = mem.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("cnt"))
    val q = df.writeStream.format("memory").queryName("t_wm")
      .outputMode(OutputMode.Append()).start()
    // batch 1 advances watermark to 02:50
    mem.addData(Seq((1L, ts("2024-01-01 03:00:00"), 1.0)))
    q.processAllAvailable()
    // batch 2: a row 2.5 h late — its window [00:00,00:30) is closed
    mem.addData(Seq((2L, ts("2024-01-01 00:10:00"), 1.0)))
    q.processAllAvailable()
    // batch 3 advances watermark far enough to emit the open window
    mem.addData(Seq((3L, ts("2024-01-01 05:00:00"), 1.0)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("t_wm").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the late row's window must NOT appear with its count
    val w0000 = ts("2024-01-01 00:00:00").getTime / 1000
    assert(!out.contains(w0000), s"late window emitted: $out")
    assert(out.values.forall(_ == 1L))
  }

  test("content dedup drops a duplicate text arriving in a LATER micro-batch") {
    val mem = MemoryStream[(Long, String, String)](spark)
    val df = mem.toDF().toDF("doc_id", "text", "lang")
      .withColumn("h", sha2(col("text").cast("binary"), 256))
      .dropDuplicates("lang", "h")
    val q = df.writeStream.format("memory").queryName("t_cdedup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(Seq((1L, "alpha beta", "en"), (2L, "gamma delta", "en")))
    q.processAllAvailable()
    // batch 2: same text again (cross-batch dup → dedup state drops it),
    // same text under another lang (kept: dedup is scoped per lang),
    // and a brand-new text (kept)
    mem.addData(Seq((3L, "alpha beta", "en"), (4L, "alpha beta", "de"),
      (5L, "epsilon zeta", "en")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("t_cdedup").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L), s"kept=$kept")
  }

  test("a stream query's frame survives a later re-invocation of its key") {
    // regression for the deferred-drop design: the first invocation's
    // memory-sink view used to be dropped as a side effect of the
    // SECOND invocation registering its sink, so lazily re-evaluating
    // the first frame afterwards threw TABLE_OR_VIEW_NOT_FOUND. Each
    // query now drains its sink into a self-contained local relation
    // before returning, so evaluation order cannot matter — and no
    // sink view outlives its builder (catalog stays clean).
    val first = SparkEntry.queries("stream_watermark")(spark, sf0001)
    val second = SparkEntry.queries("stream_watermark")(spark, sf0001)
    val a = second.collect().toSeq
    val b = first.collect().toSeq // evaluated AFTER the re-invocation
    assert(a == b && a.nonEmpty)
    val leftover = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("wm_dedup_"))
    assert(leftover.isEmpty, s"sink views leaked: ${leftover.mkString(",")}")
  }

  test("graft.stream.statePartitions changes no rows of a stateful query; 0 is refused") {
    def run(n: String) = withConf("graft.stream.statePartitions", n)(
      SparkEntry.queries("stream_stateful")(spark, sf0001).collect().map(_.toString).sorted.toSeq)
    val one = run("1")
    assert(one.nonEmpty && one == run("4"), "stream_stateful rows differ between 1 and 4 state partitions")
    val e = intercept[IllegalArgumentException](run("0"))
    assert(e.getMessage.contains("graft.stream.statePartitions=0 must be >= 1"), e.getMessage)
  }

  test("session_window matches gaps-and-islands semantics") {
    // user 10: events at 00:05, 00:15 (gap 10m → same), 00:50 (gap 35m → new)
    val df = Seq(
      (10L, ts("2024-01-01 00:05:00")), (10L, ts("2024-01-01 00:15:00")),
      (10L, ts("2024-01-01 00:50:00")),
    ).toDF("user_id", "ts")
    val sessions = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("session_window.start")).as("s"), col("n"))
      .orderBy("s").collect()
    assert(sessions.length == 2)
    assert(sessions(0).getLong(1) == 2 && sessions(1).getLong(1) == 1)
  }
}
