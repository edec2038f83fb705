package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.engine.sink.Sinks

/** The read-side guarantees of each Sinks layout, asserted on real
  * physical plans (the point of a layout API is the NEXT query's
  * plan, so that is what the spec checks).
  */
class SinksSpec extends SparkSpec {

  test("writePartitioned: filter on the partition column prunes the scan") {
    val tmp = graft.engine.TempDirs.scratch("graft-sink_part")
    Sinks.writePartitioned(
      Tables.orders(spark, sf0001).withColumn("yr", year(col("o_orderdate"))),
      s"$tmp/orders", "yr")
    val q = Sinks.readLayout(spark, s"$tmp/orders")
      .filter(col("yr") === 1997).agg(count(lit(1)))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(yr"),
      s"expected partition pruning on yr:\n$plan")
  }

  test("writeBucketed: join on the bucket key shuffles neither side") {
    val tmp = graft.engine.TempDirs.scratch("graft-sink_bkt")
    Sinks.writeBucketed(Tables.lineitem(spark, sf0001),
      "sink_li", s"$tmp/li", 8, "l_orderkey")
    Sinks.writeBucketed(Tables.orders(spark, sf0001),
      "sink_ord", s"$tmp/ord", 8, "o_orderkey")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("sink_li")
        .join(spark.table("sink_ord"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"fact side must read pre-bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side must read pre-bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS sink_li")
      spark.sql("DROP TABLE IF EXISTS sink_ord")
    }
  }

  test("bucketed_join_roundtrip: the DECLARED query reads pre-bucketed on both sides") {
    // The declared query must inherit writeBucketed's no-shuffle
    // guarantee, not just the helper in isolation: with broadcast
    // disabled, neither join side may re-shuffle on its key.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = Sinks.queries("bucketed_join_roundtrip")(spark, sf0001)
      assert(q.collect().length > 0)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
        s"orders side must read pre-bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(c_custkey"),
        s"customer side must read pre-bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("zorder_layout_audit: z cells bound BOTH keys, linear cells only one") {
    val rows = Sinks.queries("zorder_layout_audit")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (_, linP, linS) = rows("linear")
    val (zn, zP, zS) = rows("zorder")
    // linear layout: partkey span is 0 inside every cell by construction
    assert(linP == 0L, s"linear partkey span must be 0, got $linP")
    // z cells bound each 8-bit coordinate to its low nibble (span <= 15)
    assert(zP <= 15L * zn && zS <= 15L * zn, s"z spans too wide: $rows")
    // the point of the layout: the suppkey dimension is dramatically
    // tighter under z-order than under the single-key sort
    assert(zS * 4 < linS, s"zorder must bound suppkey far tighter: $rows")
  }

  test("writeSorted: range predicate skips files via footer statistics") {
    val tmp = graft.engine.TempDirs.scratch("graft-sink_sort")
    Sinks.writeSorted(Tables.lineitem(spark, sf0001), s"$tmp/li", 4, "l_orderkey")
    // 4 range-partitioned files; a tight key range overlaps ≤ 2 of them
    val all = Sinks.readLayout(spark, s"$tmp/li")
    val maxKey = all.agg(max("l_orderkey")).head.getLong(0)
    val q = all.filter(col("l_orderkey") <= maxKey / 100)
    val scanned = q.queryExecution.executedPlan.toString
    assert(scanned.contains("PushedFilters: [IsNotNull(l_orderkey), LessThanOrEqual(l_orderkey"),
      s"range predicate must push to parquet:\n$scanned")
    // row-group skipping is a storage-level effect; what the plan must
    // show is the pushed filter + the layout produced 4 sorted files
    assert(new java.io.File(s"$tmp/li").listFiles().count(_.getName.endsWith(".parquet")) == 4)
  }

  test("source_text_roundtrip survives newlines, CRs, and tabs in text") {
    // The line format hex-wraps the free-text payload; a document
    // whose text embeds \n/\r/\t must come back byte-identical (the
    // naive raw write would split it into malformed lines).
    import spark.implicits._
    val tmp = graft.engine.TempDirs.scratch("graft-sink_nl")
    Seq(
      (0L, "line one\nline two", "en", "s0"),
      (1L, "carriage\rreturn\r\nand\ttab", "en", "s0"),
      (2L, "plain", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Sinks.queries("source_text_roundtrip")(spark, tmp)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // en: 2 docs, chars = 17 + 24, both distinct, id_sum 0+1
    assert(got("en") == ((2L, 41L, 2L, 1L)), s"got $got")
    assert(got("de") == ((1L, 5L, 1L, 2L)), s"got $got")
  }

  test("text line format armors lang/source too: tabs/newlines/empties roundtrip losslessly") {
    // Round-5 advice: the dim fields used to ride raw, so the
    // contract silently leaned on a no-tab/no-newline fixture
    // invariant. Every string field is now hex-armored — a lang
    // containing the field separator itself, a multiline source, and
    // empty strings must all come back byte-identical through a real
    // text-sink write/read.
    import spark.implicits._
    val rows = Seq(
      (0L, "tab\there", "en\tglish", "s\n0"),
      (1L, "", "", ""),
      (2L, "plain", "de", "s1"))
    val tmp = graft.engine.TempDirs.scratch("graft-sink_dim") + "/t"
    Sinks.textLineEncode(rows.toDF("doc_id", "text", "lang", "source"))
      .write.mode("overwrite").text(tmp)
    val back = Sinks.textLineDecode(spark.read.text(tmp))
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(back.toSeq == rows.map(t => (t._1, t._2, t._3, t._4)),
      s"lossy dim roundtrip: ${back.toSeq}")
  }

  test("CSV roundtrip raises the DESIGNED error on a \\u0001-bearing value instead of corrupting") {
    // Round 14: the CSV null protocol is the u0001 sentinel, and a
    // VALUE containing it is indistinguishable from NULL on read —
    // probed as one char and one distinct text silently vanishing.
    // The format cannot represent the distinction, so the write scan
    // raises the designed error.
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft_csvpin")
    Seq((1L, "clean text", "en", "s0"),
        (2L, "evil\u0001inside", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val e = intercept[Exception] {
      Sinks.queries("source_csv_roundtrip")(spark, d).collect()
    }
    def msgs(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(msgs(e).contains("null-sentinel character"),
      s"expected the designed sentinel-collision error, got: ${msgs(e).take(400)}")
  }

  test("writePartitioned on a string column demands a UTF-8 JVM loudly, before any task writes") {
    // Round 14: under this host's ASCII default locale a unicode
    // partition value used to die mid-write as an InvalidPathException
    // buried in TASK_WRITE_FAILED; the contract is now a designed
    // require BEFORE the write starts. The property is read at call
    // time, so the pin flips it and restores.
    import spark.implicits._
    val df = Seq((1L, "x", "café")).toDF("id", "text", "lang")
    val prev = System.getProperty("sun.jnu.encoding")
    System.setProperty("sun.jnu.encoding", "ANSI_X3.4-1968")
    try {
      val e = intercept[IllegalArgumentException] {
        Sinks.writePartitioned(df, graft.engine.TempDirs.scratch("graft-utf8pin") + "/p", "lang")
      }
      assert(e.getMessage.contains("UTF-8 JVM"), s"wrong error: ${e.getMessage}")
    } finally System.setProperty("sun.jnu.encoding", prev)
    // and under the build's UTF-8 launch the same write succeeds
    Sinks.writePartitioned(df, graft.engine.TempDirs.scratch("graft-utf8ok") + "/p", "lang")
  }

  test("TempDirs sweeps SIGKILL-orphaned scratch dirs (dead-owner marker), never live or unmarked ones") {
    // Round-13 ADVICE: the sweep used to key on name prefix + 24h
    // mtime, which could delete a >24h live soak session's dir (mtime
    // only updates on direct-child writes) or a third-party dir that
    // shares the prefix. It now deletes ONLY dirs whose .graft-owner
    // marker names a dead pid.
    def write(f: java.io.File, s: String): Unit =
      java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    val orphan = new java.io.File(root, "graft_orphan_test_dead")
    val live = new java.io.File(root, "graft_orphan_test_live")
    val unmarked = new java.io.File(root, "graft_orphan_test_unmarked")
    val garbled = new java.io.File(root, "graft_orphan_test_garbled")
    val all = Seq(orphan, live, unmarked, garbled)
    all.foreach(_.mkdir())
    // A pid guaranteed dead: spawn a trivial process and wait for it.
    val dead = new ProcessBuilder("true").start()
    val deadPid = dead.pid(); dead.waitFor()
    write(new java.io.File(orphan, ".graft-owner"), deadPid.toString)
    new java.io.File(orphan, "payload").createNewFile()
    write(new java.io.File(live, ".graft-owner"),
          ProcessHandle.current().pid().toString)
    write(new java.io.File(garbled, ".graft-owner"), "not-a-pid")
    // Age the survivors so the old mtime heuristic, were it still in
    // force, would have deleted them — proving ownership is the gate.
    val old = System.currentTimeMillis() - 25L * 3600 * 1000
    all.foreach(_.setLastModified(old))
    try {
      graft.engine.TempDirs.sweepOrphans()
      assert(!orphan.exists(), "a dead-owner graft scratch dir must be swept")
      assert(live.exists(), "a live-owner dir must never be touched, however old")
      assert(unmarked.exists(), "a dir without the ownership marker must never be touched")
      assert(garbled.exists(), "an unreadable marker must fail safe (keep the dir)")
    } finally all.foreach { d =>
      val kids = d.listFiles(); if (kids != null) kids.foreach(_.delete()); d.delete()
    }
  }

  test("text line format round-trips NULL fields via the \\N sentinel (lossless, no phantom rows)") {
    // NULL used to be a loud write-time failure (a line format cannot
    // represent it natively, and Spark's text sink writes a bare
    // newline for a NULL value — a phantom all-NULL row on decode).
    // The \\N sentinel (Hive TextFile's convention, outside the hex
    // alphabet) makes the format total: every NULL combination — and
    // the all-NULL row — must come back EXACTLY, and the empty string
    // must stay distinct from NULL.
    import spark.implicits._
    val tmp = graft.engine.TempDirs.scratch("graft-sink_null") + "/t"
    val rows = Seq(
      (java.lang.Long.valueOf(0L), "ok", "en", "s0"),
      (java.lang.Long.valueOf(1L), null, "en", "s0"),
      (java.lang.Long.valueOf(2L), "", null, "s1"),      // empty text, NULL lang
      (java.lang.Long.valueOf(3L), "t", "de", null),
      (null.asInstanceOf[java.lang.Long], null, null, null)) // all-NULL row
    val df = rows.toDF("doc_id", "text", "lang", "source")
    Sinks.textLineEncode(df).write.mode("overwrite").text(tmp)
    val back = Sinks.textLineDecode(spark.read.text(tmp))
      .collect().map(r => (
        if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
        r.getString(3), r.getString(1), r.getString(2)))
      .sortBy(t => Option(t._1).map(_.toLong).getOrElse(Long.MinValue))
    assert(back.toSeq == rows.sortBy(t => Option(t._1).map(_.toLong).getOrElse(Long.MinValue)),
      s"lossy NULL roundtrip: ${back.toSeq}")
    // the sentinel itself is inert as CONTENT: a literal "\\N" text is
    // hex-armored, so it must decode back as the two-char string, not
    // as NULL
    val tricky = Seq((9L, "\\N", "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val tmp2 = graft.engine.TempDirs.scratch("graft-sink_null2") + "/t"
    Sinks.textLineEncode(tricky).write.mode("overwrite").text(tmp2)
    val tb = Sinks.textLineDecode(spark.read.text(tmp2)).collect()(0)
    assert(tb.getString(3) == "\\N", s"sentinel collided with content: $tb")
  }
}
