package graft.tools

import java.sql.Timestamp
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial fixture generator — a parity-probe dataset with the
  * SAME schemas as the driver's tables (FIXTURES.md) but hostile
  * content the deterministic fixtures never produce: NULLs in every
  * nullable column (including join keys), empty and whitespace-only
  * strings, combining-character / astral-plane / RTL unicode, regex
  * metacharacters, int32-overflowing JSON integers, pre-1970
  * timestamps (negative epochs — the window-grid sign case),
  * boundary-sitting rounding values, zero vectors, NULL embeddings
  * and NULL elements inside embeddings, duplicate and out-of-domain
  * category values.
  *
  * Purpose: run `graft.Verify <dir> <out>` + `tools/oracle_probe.py
  * <dir> <out>` over the generated dir — both engines read the SAME
  * parquet, so any PASS/FAIL divergence is either a Spark-vs-DuckDB
  * parity bug in a query/oracle pair or an oracle over-fitted to the
  * benign fixtures. This automates the probe class that caught the
  * q_json_fns ANSI-cast crash and the CAST-abort-on-overflow oracle
  * bug (round 12/13) — one command instead of hand-built case tables.
  *
  * Determinism: fixed seed, fixed row tables built in id order —
  * two runs write identical content (coalesce(1) preserves the
  * build order into the single part file). The oracle probe over
  * this dir is deterministic across repeated runs (probed 3×; the
  * one value that flickered — xie_beni under a 1e6 magnitude
  * stressor — was cured by bounding the stressor to 1e3, see the
  * embeddings comment).
  *
  * EXPECTED non-PASS rows (documented loud-failure contracts, not
  * parity bugs — keep them failing loudly):
  *  - none currently: every declared query runs crash-free and
  *    oracle-parity-green on this fixture as of round 13. Two
  *    boundary contracts earned that: the vector universe
  *    (Tables.cleanVectors) and the event-time boundaries in the
  *    stream/window queries. Out-of-domain magnitudes (|x| ≥ ~1e7
  *    per component) remain a documented loud failure in
  *    incremental_ann_upsert's quantization and a float-cancellation
  *    ceiling in MLlib silhouette — stress them manually, not here.
  *
  * Scale: tiny on purpose (hundreds of rows). This is a SEMANTIC
  * probe; throughput is the real fixtures' job. Usage:
  *   runMain graft.tools.AdversarialFixture [outDir]
  */
object AdversarialFixture {

  // -- hostile string pool ---------------------------------------------
  // NOTE: every entry must survive a parquet string column; none are
  // invalid UTF-8 (the JVM can't represent those in String anyway).
  private val nastyStrings: Seq[String] = Seq(
    "", " ", "  \t ", "\n", "a", "A",
    "café", "café", // combining vs precomposed e-acute
    "中文文本", // CJK
    "😀😀", // astral plane (emoji, surrogate pair)
    "שלום", // RTL Hebrew
    "percent%underscore_bracket[x]",
    "dot.star*plus+question?pipe|caret^dollar$",
    "back\\slash", "quote'quote", "double\"quote",
    "comma,semicolon;colon:",
    " leading", "trailing ", "UPPER lower MiXeD",
    "x" * 500, // long single token
    ("tok " * 200).trim, // long many-token
    "NULL", "null", "None", "nan", "NaN", // strings that LOOK like nulls
    "0", "-1", "3.14", "1e10" // strings that LOOK like numbers
  )

  /** Parse as UTC wall-clock, NOT Timestamp.valueOf (which parses in
    * the JVM default timezone — only spark.sql.session.timeZone is
    * pinned to UTC, so on a non-UTC host the pre-1970 rows and the
    * exactly-on-the-grid events would silently shift and the
    * boundary contracts they exist to exercise would be tested
    * against nothing). */
  private def ts(s: String): Timestamp = {
    val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
  }

  def write(spark: SparkSession, dir: String): Unit = write(spark, dir, 0L)

  /** `seed` varies the FILLER content and the null/edge PHASES while
    * the hand-curated boundary rows stay fixed — re-running the probe
    * over a few seeds exercises different group shapes, different
    * null placements and different rounding neighborhoods without
    * giving up determinism (each seed is itself reproducible). Seed 0
    * is the committed regression gate. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit =
    write(spark, dir, seed, empty = false)

  /** `empty = true` writes every table SCHEMA-CORRECT with ZERO rows —
    * the "partition with no data" case every 100 TB pipeline hits
    * (an empty day, a filtered-to-nothing slice). Queries must come
    * back empty or with their defined empty-aggregate row, never
    * crash. */
  def write(spark: SparkSession, dir: String, seed: Long, empty: Boolean): Unit =
    write(spark, dir, seed, if (empty) 0 else -1)

  /** `cap >= 0` truncates every table to its first `cap` rows (0 =
    * the empty profile; 1 = the single-row profile, which drives the
    * degenerate-statistics paths: stddev/corr of one sample, windows
    * over one row, k-means with k > n). `-1` = full fixture. */
  def write(spark: SparkSession, dir: String, seed: Long, cap: Int): Unit =
    write(spark, dir, seed, cap, constant = false)

  /** `constant = true` writes the CONSTANT corpus — every embedding
    * the all-zero vector (labels still cycle 0..9) and every document
    * the same text: the "broken upstream encoder" shape. It drives
    * the zero-variance denominators (inter-centroid distance 0,
    * intra-cluster scatter 0, stddev 0, all-dup dedup) that ANSI
    * division turns into crashes when unguarded. */
  def write(spark: SparkSession, dir: String, seed: Long, cap: Int,
            constant: Boolean): Unit =
    write(spark, dir, seed, cap, constant, 0)

  /** `hot > 0` appends the HOT-BUCKET corpus to `documents`: `hot`
    * extra docs (ids 1001..1000+hot) all carrying ONE identical
    * boilerplate string — the scraped-nav-menu shape that dominates a
    * MinHash band bucket at 100 TB. Identical token sets collapse to
    * one band signature, so the bucket size IS `hot` — run Verify
    * under SPARK_GRAFT_CONF="graft.neardedup.bucketCap=8" and the
    * hot-bucket cap (TextOps minhashPairs) binds on DATA: each of the
    * `hot` docs pairs with at most 8 successors, and the DuckDB
    * oracles' ROW_NUMBER pair windows must match the engine's
    * successor frame row for row (tools/probe_all.sh `hotbucket`
    * profile). */
  def write(spark: SparkSession, dir: String, seed: Long, cap: Int,
            constant: Boolean, hot: Int): Unit =
    write(spark, dir, seed, cap, constant, hot, dupIds = false)

  /** `dupIds = true` adds duplicate-PRIMARY-KEY rows to documents
    * (doc_id 901 twice with different content, 902 twice bit-identical)
    * and embeddings (vec_id 901/902 likewise) — the replayed-ingest /
    * at-least-once-sink corruption shapes. Such a corpus violates the
    * engine's declared PK contract (Tables.requirePk): the expected
    * outcome is the DESIGNED uniqueness error at table load, not query
    * results — gated by tools/PkGuard (probe_all `dupids` profile),
    * NOT by oracle parity (probing the rows through the parity gate
    * produced 31 silent cross-engine divergences, which is exactly why
    * the contract exists). */
  def write(spark: SparkSession, dir: String, seed: Long, cap: Int,
            constant: Boolean, hot: Int, dupIds: Boolean): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L + seed)
    // phase shifts for the modular null/edge placements (0 at seed 0
    // keeps the documented row ids stable for the committed gate)
    val ph = if (seed == 0L) 0 else 1 + (rnd.nextInt(11))

    // The driver's tables are single parquet FILES (events.parquet),
    // not directories — the streaming queries' pathGlobFilter matches
    // the file NAME, so a directory layout silently yields an empty
    // stream. Write to a temp dir, then move the single part file.
    def save(name: String)(df00: org.apache.spark.sql.DataFrame): Unit = {
      val df0 =
        if (!constant) df00
        else if (name == "embeddings")
          df00.withColumn("embedding",
            expr("CAST(array_repeat(0.0F, 64) AS ARRAY<FLOAT>)"))
        else if (name == "documents")
          df00.withColumn("text", lit("same text every row"))
            .withColumn("n_chars", lit(19L))
        else df00
      val df = if (cap >= 0) df0.limit(cap) else df0
      val tmp = s"$dir/.tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = tmpDir.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val target = new java.io.File(s"$dir/$name.parquet")
      if (target.exists()) target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      tmpDir.listFiles().foreach(_.delete())
      tmpDir.delete()
    }

    // region / nation: keep the join skeleton intact but add an
    // out-of-domain region and a nation with a NULL name + unicode.
    save("region")(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"), (5, "café région")
    ).toDF("r_regionkey", "r_name"))

    save("nation")((
      (0 until 25).map(i => (i, s"NATION_$i", i % 5)) ++ Seq(
        (25, null, 5), (26, "", 0), (27, "中国", 2),
        (28, "percent%nation_", 3))
    ).toDF("n_nationkey", "n_name", "n_regionkey"))

    // customer: NULL nationkey (outer-join face), NULL name, hostile
    // mktsegment values, extreme acctbals incl. -0.0 and rounding
    // boundary .xxxxx5 values.
    val custRows = (1L to 60L).map { k =>
      val name =
        if ((k + ph) % 13 == 0) null
        else nastyStrings((k % nastyStrings.size).toInt)
      val nk: java.lang.Integer =
        if ((k + ph) % 17 == 0) null else Integer.valueOf((k % 25).toInt)
      val bal: java.lang.Double = k match {
        case 7 => -0.0
        case 11 => 0.0
        case 19 => 1.0000005 // ROUND(x, 6) tie
        case 23 => -1.0000005
        case 29 => 1e15
        case 31 => -1e15
        case 37 => 1e-9
        case _ => math.round(rnd.nextDouble() * 1e6) / 100.0
      }
      val seg = if ((k + ph) % 11 == 0) null
        else Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "", " ",
          "café")((k % 6).toInt)
      (k, name, nk, bal, seg)
    }
    save("customer")(custRows
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

    // supplier: tiny, with a NULL nationkey and duplicate names.
    save("supplier")((1L to 12L).map { k =>
      val nk: java.lang.Integer =
        if (k == 5L) null else Integer.valueOf((k % 25).toInt)
      (k, if (k % 4 == 0) "DUP SUPPLIER" else s"supp$k", nk,
        math.round(rnd.nextDouble() * 1e5) / 100.0)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

    // part: hostile names feed q_scalar_string's regex/LIKE/substr
    // surface; p_size 0 and negative; duplicate (brand, type) pairs.
    save("part")((1L to 40L).map { k =>
      val nm = if ((k + ph) % 19 == 0) null
        else nastyStrings(((k * 7) % nastyStrings.size).toInt)
      val brand = Seq("Brand#1", "Brand#2", "", null)((k % 4).toInt)
      val ptype = Seq("STANDARD", "anodized nickel", " ", null)((k % 4).toInt)
      val size: java.lang.Integer = k match {
        case 3 => Integer.valueOf(0)
        case 5 => Integer.valueOf(-1)
        case 9 => null
        case _ => Integer.valueOf((k % 50).toInt)
      }
      (k, nm, brand, ptype, size,
        math.round(rnd.nextDouble() * 1e5) / 100.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))

    // orders: pre-1970 and far-future dates, NULL custkey / status /
    // date, totalprice rounding boundaries. o_orderkey stays unique
    // (a PRIMARY-KEY duplicate would make SCD2/merge semantics
    // genuinely ambiguous, not adversarial).
    val orderRows = (1L to 120L).map { k =>
      val ck: java.lang.Long =
        if ((k + ph) % 23 == 0) null else java.lang.Long.valueOf((k % 60) + 1)
      val st = if ((k + ph) % 29 == 0) null else Seq("O", "F", "P", "")((k % 4).toInt)
      val tp: java.lang.Double = k match {
        case 7 => 0.0050005 // ROUND boundary under sum
        case 11 => -500.25 // negative order total
        case 13 => 0.0
        case _ => math.round(rnd.nextDouble() * 1e7) / 100.0
      }
      val dt: Timestamp = k match {
        case 3 => ts("1969-12-31 23:59:59") // negative epoch
        case 5 => ts("1969-06-15 00:00:00")
        case 17 => ts("2099-12-31 00:00:00")
        case 19 => null
        case _ => ts(f"${1995 + (k % 6)}%d-${(k % 12) + 1}%02d-${(k % 28) + 1}%02d 00:00:00")
      }
      val pr = if ((k + ph) % 31 == 0) null
        else Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")((k % 5).toInt)
      (k, ck, st, tp, dt, pr)
    }
    // referential ORPHAN (round 15): an order whose o_custkey targets
    // no customer row — distinct from the NULL-custkey face above
    // (NULL never equi-joins; a dangling non-NULL key joins to nothing
    // and must flow through inner/outer joins consistently).
    val orderOrphans = Seq(
      (9501L, java.lang.Long.valueOf(9999L), "O",
        java.lang.Double.valueOf(1234.56), ts("1997-01-15 00:00:00"), "2-HIGH"))
    save("orders")((orderRows ++ orderOrphans).toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))

    // lineitem: NULL quantity/discount/flags, quantity at the 10/30
    // band edges, discount at 0 (NULLIF face) and extreme, duplicate
    // (orderkey, linenumber) ABSENT (kept unique) but duplicate
    // orderkeys across linenumbers as usual.
    val liRows = (1L to 300L).map { i =>
      val ok = (i % 120) + 1
      val ln = ((i / 120) + 1).toInt
      val qty: java.lang.Double = i match {
        case 4 => null
        case 8 => 10.0 // band edge: < 10 is 'low'
        case 12 => 30.0 // band edge
        case 16 => 0.0
        case 20 => 9.999999
        case _ => (i % 50).toDouble + 1
      }
      val px: java.lang.Double =
        if (i == 24) null else math.round(rnd.nextDouble() * 1e6) / 100.0
      val disc: java.lang.Double = i match {
        case 6 => null
        case 10 => 0.0 // NULLIF(l_discount, 0.0) face
        case 14 => 0.05 // ABS(x - 0.05) = 0
        case 18 => 0.0500005
        case _ => (i % 11).toDouble / 100.0
      }
      val tax: java.lang.Double = if (i == 28) null else (i % 9).toDouble / 100.0
      val rf = if ((i + ph) % 37 == 0) null else Seq("A", "N", "R", "")((i % 4).toInt)
      val ls = if ((i + ph) % 41 == 0) null else Seq("O", "F")((i % 2).toInt)
      val sd: Timestamp = i match {
        case 32 => null
        case 36 => ts("1969-01-01 12:00:00")
        case _ => ts(f"${1996 + (i % 5)}%d-${(i % 12) + 1}%02d-${(i % 28) + 1}%02d 00:00:00")
      }
      (ok, (i % 40) + 1, (i % 12) + 1, ln, qty, px, disc, tax, rf, ls, sd)
    }
    // referential ORPHANS (round 15): fact rows whose FK targets no
    // dimension row — the broken-upstream-export shape. l_orderkey
    // 9001/9002 match no order, l_partkey/l_suppkey 9999 match no
    // part/supplier. Inner joins must DROP them and outer joins must
    // KEEP them identically on both engines; no query may crash on a
    // dangling FK.
    val liOrphans = Seq(
      (9001L, 9999L, 9999L, 1, java.lang.Double.valueOf(5.0),
        java.lang.Double.valueOf(100.0), java.lang.Double.valueOf(0.02),
        java.lang.Double.valueOf(0.01), "A", "F", ts("1997-06-15 00:00:00")),
      (9002L, 1L, 1L, 1, java.lang.Double.valueOf(25.0),
        java.lang.Double.valueOf(2500.5), java.lang.Double.valueOf(0.0),
        java.lang.Double.valueOf(0.04), "N", "O", ts("1998-03-01 00:00:00")))
    save("lineitem")((liRows ++ liOrphans).toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"))

    // events: the JSON case table as live props values; NULL user_id /
    // value / ts / type; timestamps exactly ON window boundaries, at
    // sub-second precision, and pre-1970 (negative-epoch grid);
    // duplicate event_ids ABSENT (unique id keeps CDC/asof
    // deterministic) but same-(user, ts) collisions present.
    val propsPool = Seq(
      """{"k": 5}""", """{"k": 5.7}""", """{"k": "5"}""", """{"k": "x"}""",
      """{"a": 1}""", "not json", """{"k": 5.0}""", """{"k": -3}""",
      """{"k": 9999999999}""", """{"k": "9999999999"}""",
      """{"k": null}""", """{"k": {"n": 1}}""", """{"k": [1,2]}""",
      """{"k": true}""", """{"k": 0}""", """{"k": -0}""",
      """{"k": 2147483647}""", """{"k": -2147483648}""",
      """{"k": 2147483648}""", """{"k": -2147483649}""",
      """ {"k": 7} """, """{"K": 8}""", "{}", "", null,
      // round-15 adversarial JSON: duplicate keys (last-wins vs
      // first-wins is engine-defined), deep nesting, scientific
      // notation, float overflow to the double ceiling, unicode keys,
      // escaped quotes inside values, and non-object top levels
      """{"k": 1, "k": 2}""", // duplicate key
      """{"k": {"k": {"k": 3}}}""", // deep nesting, same name
      """{"k": 5e2}""", """{"k": 1.5e-3}""", // scientific notation
      """{"k": 1e308}""", """{"k": 1e309}""", // at and past double max
      """{"café": 1, "k": 6}""", // unicode sibling key
      """{"k": "quote\"inside"}""", // escaped quote in value
      """[1, 2, 3]""", """5""", """true""", // non-object top levels
      """{"k": 0.30000000000000004}""" // float-representation edge
    )
    // referential ORPHAN (round 15): events whose user_id targets no
    // customer row (the fixture's user_id ∈ 1..30 all resolve) — the
    // user-enrichment joins must drop/keep them consistently.
    val eventOrphans = Seq(
      (9001L, ts("2024-01-02 10:00:00"), java.lang.Long.valueOf(999L),
        "click", java.lang.Double.valueOf(1.5), """{"k": 5}"""),
      (9002L, ts("2024-01-02 11:00:00"), java.lang.Long.valueOf(999L),
        "purchase", java.lang.Double.valueOf(20.0), "{}"))
    val eventRows = (1L to 200L).map { i =>
      val uid: java.lang.Long =
        if ((i + ph) % 19 == 0) null else java.lang.Long.valueOf((i % 30) + 1)
      val et = if ((i + ph) % 23 == 0) null
        else Seq("click", "error", "purchase", "signup", "view", "weird", "")((i % 7).toInt)
      val v: java.lang.Double = i match {
        case 5 => null
        case 9 => -0.0
        case 13 => 0.00000049999 // ROUND(sum, 4) feeder
        // non-finite values (round 14): both engines agree on NaN/Inf
        // propagation through sums/rounds (probed broadly), EXCEPT the
        // regr_* family where DuckDB raises — value_drift_regression
        // declares its finite-sample boundary on both faces
        case 33 => Double.NaN
        case 39 => Double.PositiveInfinity
        case _ => math.round(rnd.nextDouble() * 1e6) / 1e4
      }
      val t: Timestamp = i match {
        case 3 => ts("1969-12-31 23:45:00") // negative epoch, grid sign
        case 7 => ts("1969-12-31 22:10:30")
        // sentinel dates (round 14): the "never expires" 9999 and the
        // year-1 epoch bug — one such row used to hand
        // q_timeseries_fill's per-user grid a ~70M-hour sequence()
        // (a probed 10-min hang in BOTH engines); the declared span
        // cap (graft.timeseries.maxGridHours) excludes these users
        // from the fill identically on both faces
        case 43 => ts("9999-12-31 23:59:59")
        case 49 => ts("0001-01-01 00:00:00")
        case 11 => null
        case 15 => ts("2024-01-01 01:00:00") // exactly on the hour grid
        case 17 => ts("2024-01-01 01:15:00") // exactly on the 15-min grid
        case 21 => ts("2024-01-01 02:30:00.123456") // sub-second
        case 25 => ts("2024-01-01 03:00:00") // session-gap boundary feeder
        case 27 => ts("2024-01-01 03:30:00") // exactly gap-width later
        case _ =>
          val m = (i * 7) % (29 * 24 * 60)
          new Timestamp(ts("2024-01-01 00:00:00").getTime + m * 60000L)
      }
      (i, t, uid, et, v, propsPool(((i * 3 + ph) % propsPool.size).toInt))
    }
    save("events")((eventRows ++ eventOrphans)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))

    // documents: NULL/empty/whitespace text, unicode tokens, exact
    // dups (incl. cross-lang), near dups, a huge doc, out-of-domain
    // lang / NULL lang, n_chars that LIES about length (derived stats
    // must come from text, not the column).
    val docBase = Seq[(java.lang.Long, String, String, String)](
      (1L, "the quick brown fox jumps over the lazy dog", "en", "src0"),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "src1"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog", "de", "src0"), // cross-lang dup
      (4L, "the quick brown fox jumps over the lazy cat", "en", "src2"), // near dup
      (5L, null, "en", "src0"),
      (6L, "", "fr", "src3"),
      (7L, "   ", "es", "src4"),
      (8L, "\t\n", "zh", "src5"),
      (9L, "single", "en", "src0"),
      (10L, "café café 中文 😀 שלום", "zh", "src6"),
      (11L, ("tok " * 2000).trim, "en", "src7"), // huge doc
      (12L, "a b c d e f g h i j k l m n o p q r s t u v w x y z", "en", "src8"),
      (13L, "a a a a a a a a a a a a a a a a", "en", "src9"), // repetition face
      (14L, "percent% under_score [brackets] (parens) {braces}", "en", "src10"),
      (15L, "the the the quick quick fox", null, "src0"), // NULL lang
      (16L, "mixed CASE Tokens Here", "xx", "src11"), // out-of-domain lang
      (17L, "0 1 2 3 4 5 6 7 8 9 -1 3.14", "en", "src12"),
      (18L, "word", "en", null) // NULL source
    )
    val docFill = (19L to 80L).map { i =>
      val toks = (0 until ((i % 37) + 3).toInt)
        .map(j => s"w${(i * 31 + j * 7) % 41}")
      (java.lang.Long.valueOf(i), toks.mkString(" "),
        Seq("de", "en", "es", "fr", "zh")((i % 5).toInt),
        s"src${i % 20}")
    }
    // the hot-bucket boilerplate: ONE string, `hot` copies — tokens
    // chosen disjoint from the w<i> filler vocabulary so no filler doc
    // drifts into the hot bucket by token-set coincidence
    val docHot = (1001L until 1001L + math.max(hot, 0)).map { i =>
      (java.lang.Long.valueOf(i),
        "nav home about contact privacy terms copyright footer menu search login help",
        Seq("de", "en", "es", "fr", "zh")((i % 5).toInt),
        s"src${i % 20}")
    }
    // hostile GROUPING KEYS (round 14): lang/source are partition and
    // group-by columns across the text family and the partitioned
    // sink — tab/unicode/whitespace values exercise Spark's partition-
    // dir escaping (%09) and the UTF-8 path contract
    // (Sinks.requireUtf8Paths) on every gate profile
    val docKeys = Seq[(java.lang.Long, String, String, String)](
      (81L, "partition key with a tab", "ta\tb", "src0"),
      (82L, "partition key with unicode", "café 中文", "dot.star*$[x]"),
      (83L, "partition key whitespace only", " ", ""))
    // zero-/degenerate-TOKEN texts (round 15): rows where split(' ')
    // yields no alphanumeric token — punctuation-only, NBSP-only
    // (split(' ') does NOT split on U+00A0, so the NBSP itself is the
    // token), carriage-return-only, many-space — everywhere the text
    // family divides by token/char counts the denominator hits 0 or a
    // non-word token, and both engines must agree on the quotient
    val docDegenerate = Seq[(java.lang.Long, String, String, String)](
      (84L, "?!.,;:", "en", "src1"),
      (85L, "\u00A0", "en", "src2"),
      (86L, "\r", "fr", "src3"),
      (87L, ".", "es", "src4"),
      (88L, "     ", "zh", "src5"),
      // exactly 2 tokens: one short of a trigram, the edge of every
      // `n_w >= 3` row universe
      (89L, "two tokens", "en", "src6"))
    // duplicate PRIMARY KEYS (round 15, dupIds profile only): two
    // doc_id=901 rows with different content (the replayed-ingest
    // shape) and two doc_id=902 rows that are bit-identical full-row
    // duplicates (the at-least-once-sink shape) \u2014 every keeper window,
    // id-equi-join and per-doc aggregation assumes doc_id uniqueness,
    // which is why these rows must trip Tables.requirePk's designed
    // error (tools/PkGuard) instead of reaching any query.
    val docDupIds = if (!dupIds) Seq.empty else Seq[(java.lang.Long, String, String, String)](
      (901L, "duplicate id first body entirely different words", "en", "srcA"),
      (901L, "duplicate id second body other tokens here", "fr", "srcB"),
      (902L, "identical duplicated row same everything", "en", "srcC"),
      (902L, "identical duplicated row same everything", "en", "srcC"))
    save("documents")((docBase ++ docFill ++ docKeys ++ docDegenerate ++ docDupIds ++ docHot).map { case (id, text, lang, src) =>
      val n: java.lang.Long =
        if (id == 9L) java.lang.Long.valueOf(9999) // lying n_chars
        else if (text == null) null
        else java.lang.Long.valueOf(text.length.toLong)
      (id, text, lang, src, n)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))

    // embeddings: 64-d floats — zero vector (cosine NaN guard), NULL
    // embedding, NULL element inside a vector, duplicate vectors,
    // huge/tiny magnitudes, negative label and NULL label. Enough
    // clean rows that k-NN/IVF structural preconditions hold.
    val dim = 64
    def vec(seed: Long): Seq[java.lang.Float] =
      (0 until dim).map { j =>
        java.lang.Float.valueOf(
          (math.sin(seed * 13.7 + j * 0.71) * 2.0).toFloat)
      }
    val embBase = Seq[(Long, Seq[java.lang.Float], java.lang.Integer)](
      (1L, Seq.fill(dim)(java.lang.Float.valueOf(0.0f)), Integer.valueOf(0)), // zero vector
      (2L, null, Integer.valueOf(1)), // NULL embedding
      (3L, vec(3).updated(7, null.asInstanceOf[java.lang.Float]), Integer.valueOf(2)), // NULL element
      (4L, vec(42), Integer.valueOf(3)),
      (5L, vec(42), Integer.valueOf(3)), // duplicate vector
      (6L, vec(42), Integer.valueOf(4)), // duplicate vector, other label
      // magnitude stressors stay INSIDE the engine's documented
      // numeric domain (|x| ≤ ~1e6: incremental_ann_upsert's int64
      // micro-quantization headroom, SURVEY §7.6) — 1e30 components
      // were probed and produce CONSISTENT loud failures on both
      // engines (Spark ARITHMETIC_OVERFLOW, DuckDB INT64 conversion
      // error) plus float-cancellation drift in MLlib silhouette and
      // stddev (a genuine precision ceiling, not a parity bug), so
      // out-of-domain magnitudes are documented, not fixture-pinned.
      // 1e3 (not 1e6): at 1e6 the squared-distance float aggregates
      // (xie_beni) sit on a 6-dp rounding boundary and the probe
      // FLICKERS with DuckDB's thread-dependent accumulation order —
      // the probe must be deterministic to serve as a regression gate
      (7L, (0 until dim).map(j => java.lang.Float.valueOf(if (j == 0) 1e3f else 0f)), Integer.valueOf(5)),
      (8L, (0 until dim).map(j => java.lang.Float.valueOf(if (j == 0) 1e-30f else 0f)), Integer.valueOf(6)),
      (9L, vec(9), null), // NULL label
      (10L, vec(10), Integer.valueOf(-1)) // out-of-domain label
    )
    val embFill = (11L to 120L).map(i =>
      (i, vec(i), Integer.valueOf((i % 10).toInt)))
    // ragged dimensionality (round 14): a truncated and a single-
    // element vector — the "encoder changed width mid-run" corruption.
    // Both exit the declared vector universe (cleanVectors' size gate
    // = graft.vector.dim, mirrored len() in the oracle shadow CTE);
    // before the gate they produced 7 crashes and 12 silent
    // cross-engine divergences on this very fixture.
    // duplicate PRIMARY KEYS (round 15, dupIds profile only): vec_id
    // 901 twice with DIFFERENT vectors/labels, vec_id 902 twice
    // bit-identical — the replayed-ingest / at-least-once-sink shapes
    // for vectors; must trip Tables.requirePk (tools/PkGuard)
    val embDupIds = if (!dupIds) Seq.empty else Seq[(Long, Seq[java.lang.Float], java.lang.Integer)](
      (901L, vec(931), Integer.valueOf(1)),
      (901L, vec(932), Integer.valueOf(2)),
      (902L, vec(933), Integer.valueOf(3)),
      (902L, vec(933), Integer.valueOf(3)))
    val embRagged = Seq[(Long, Seq[java.lang.Float], java.lang.Integer)](
      (121L, vec(121).take(32), Integer.valueOf(1)),
      (122L, Seq(java.lang.Float.valueOf(1.5f)), Integer.valueOf(2)),
      // non-finite components (round 14): NaN poisons ranking keys
      // with engine-dependent ordering, Infinity dies in DECIMAL
      // rounds — both exit the universe via vec_has_nonfinite_elem /
      // the oracle's NOT isfinite clause
      (123L, vec(123).updated(0, java.lang.Float.valueOf(Float.NaN)), Integer.valueOf(3)),
      (124L, vec(124).updated(1, java.lang.Float.valueOf(Float.PositiveInfinity)), Integer.valueOf(4)),
      (125L, vec(125).updated(2, java.lang.Float.valueOf(Float.NegativeInfinity)), Integer.valueOf(5)))
    save("embeddings")((embBase ++ embFill ++ embDupIds ++ embRagged)
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_advfix")
    val seed = args.drop(1).headOption
      .filter(a => a != "empty" && a != "constant" && a != "hotbucket"
        && a != "dupids" && !a.startsWith("cap=") && !a.startsWith("hot="))
      .map(_.toLong).getOrElse(0L)
    val cap = if (args.contains("empty")) 0
      else args.find(_.startsWith("cap=")).map(_.drop(4).toInt).getOrElse(-1)
    val constant = args.contains("constant")
    val hot = if (args.contains("hotbucket")) 500
      else args.find(_.startsWith("hot=")).map(_.drop(4).toInt).getOrElse(0)
    val dupIds = args.contains("dupids")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark, dir, seed, cap, constant, hot, dupIds)
    println(s"[advfix] wrote adversarial fixture to $dir (seed $seed, cap=$cap, constant=$constant, hot=$hot, dupids=$dupIds)")
    spark.stop()
  }
}
