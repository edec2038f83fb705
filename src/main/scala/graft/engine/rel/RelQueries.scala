package graft.engine.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** General relational surface over the driver's star schema
  * (SURVEY.md §2.3 #25–#40): one named query per operator category,
  * each proving the engine drives Catalyst end-to-end against a DuckDB
  * oracle. The reference has none of these; they're the relational face
  * any "same capabilities, idiomatic Spark" engine must expose.
  *
  * Determinism discipline (§7.6): ROUND(·,6) on computed floats
  * (ROUND(·,2) on large money sums where cross-engine summation-order
  * drift exceeds 1e-6), total ORDER BY on unique key suffixes, no
  * raw nanosecond timestamps in outputs (second-truncated epochs only).
  *
  * Scale notes (100 TB): filters/projections push to the parquet scan;
  * dimension joins (region/nation/customer) broadcast; fact-fact joins
  * shuffle on their keys with AQE handling skew; aggregations are
  * partial+final HashAggregate. The as-of join is equi-join on user_id
  * (shuffle-bounded) with the time range as a post-join predicate —
  * never a nested-loop cross product.
  */
object RelQueries {
  import Tables._

  /** Written-once per-lang dim for `q_join_skew_aqe` (the
    * Sinks.cachedPath pattern: one write per (session, sfDir); the
    * scratch dir is deleted by a JVM shutdown hook —
    * [[graft.engine.TempDirs.scratch]] — so sessions stop leaking one
    * `graft-skewdim*` directory each, round-9 verdict #3). */
  private val skewDimCache = new graft.engine.SessionCache[String]
  /** Bloom filter feeding q_join_bloom_prefilter's row gate: a stale
    * entry changes RESULT ROWS, not just timing — safe only under the
    * immutable-fixture assumption on [[graft.engine.SessionCache]]. */
  private val urgentBloomCache =
    new graft.engine.SessionCache[org.apache.spark.util.sketch.BloomFilter]

  /** Final adaptive plan of the last `q_join_skew_aqe` execution PER
    * SESSION (weak-keyed like SessionCache, so concurrent sessions
    * never observe each other's plan and the string dies with its
    * session) — spec observability only (RelProfileSpec asserts
    * `SortMergeJoin(skew=true)` on the lang key). */
  private val skewPlanStore = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def lastSkewJoinPlan(s: SparkSession): String =
    Option(skewPlanStore.get(s)).getOrElse("")

  // the deferred skew-join contract thunk (see the q_join_skew_aqe
  // entry below for the full design note) — registered at object init,
  // strictly before any query lambda can build a frame over it
  {
    import org.apache.spark.sql.types._
    graft.engine.source.DeferredContractSource.register("skew_join_aqe",
      StructType(Seq(
        StructField("source", StringType, nullable = true),
        StructField("n_docs", LongType, nullable = false),
        StructField("avg_lang_docs", DoubleType, nullable = true),
        StructField("chars", LongType, nullable = true)))) { (s, d) =>
      val docsT = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "text")
      val dimPath = skewDimCache.get(s, d) {
        val p = graft.engine.TempDirs.scratch("graft-skewdim")
        docsT.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
          .coalesce(1).write.mode("overwrite").parquet(p)
        p
      }
      val keys = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")
      val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val dim = s.read.parquet(dimPath)
        // map-task FLOOR, not a cap: AQE splits a skewed reduce
        // partition by MAP-OUTPUT ranges, so a single-split fixture
        // scan has nothing to split by — fan it to 16 mappers. A
        // production scan already has thousands of splits and skips
        // the exchange entirely (repartitioning 100 TB to 16 would be
        // the opposite of the point). getNumPartitions is the ACTUAL
        // split count (file count is a wrong proxy in both directions:
        // 8 large files scan as ~64 splits, 20 tiny files pack into
        // 1-2); the extra planning pass it costs on this trivial
        // single-table subtree is accepted for the accuracy.
        val probe = if (docsT.rdd.getNumPartitions < 16) docsT.repartition(16) else docsT
        val joined = probe.join(dim, "lang")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("lang_docs"), 6).as("avg_lang_docs"),
            sum(length(col("text"))).cast("long").as("chars"))
          .orderBy("source")
        val rows = joined.collect()
        skewPlanStore.put(s, joined.queryExecution.executedPlan.toString)
        rows.map(r => Seq(r.get(0), r.getLong(1), r.get(2), r.get(3))).toSeq
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #25 scan + filter + project — pushed to parquet (PushedFilters)
    "q_filter_project" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.02, 0.06)
          && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // #26 multiway equi-join, full TPC-H Q5 shape (incl. the supplier
    // leg: l_suppkey = s_suppkey AND the local-supplier condition
    // c_nationkey = s_nationkey); region/nation broadcast, supplier
    // shuffles on its key (it grows with SF — not broadcastable at
    // 100 TB; AQE picks the strategy at runtime)
    "q_join_5way" -> ((s, d) => {
      val rev = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA"
          && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      rev.groupBy("n_name")
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // #27 outer / semi / anti joins
    "q_join_outer" -> ((s, d) =>
      customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total"))
        .orderBy("c_custkey")),

    "q_join_semi" -> ((s, d) =>
      customer(s, d).join(
        orders(s, d).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    "q_join_anti" -> ((s, d) =>
      customer(s, d).join(
        orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    // #28 range/as-of join: clicks within 10 min before each error,
    // same user. Equi on user_id + range predicate → SMJ, not BNLJ.
    "q_join_range" -> ((s, d) => {
      val ev = events(s, d).withColumn("tss", date_trunc("second", col("ts")))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("tss").as("ets"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("tss").as("cts"))
      err.join(clk,
          col("eu") === col("cu")
            && col("cts") >= col("ets") - expr("INTERVAL 10 MINUTES")
            && col("cts") < col("ets"), "left")
        .groupBy("event_id").agg(count(col("cts")).as("n_clicks"))
        .orderBy("event_id")
    }),

    // #28+ the BINNED range join — the scale rewrite of q_join_range
    // with IDENTICAL declared semantics (same oracle SQL): instead of
    // an SMJ whose range post-filter scans every per-user group, each
    // side lands in 10-minute time bins and the join becomes an EQUI
    // join on (user, bin) with a bounded ×2 probe fan-out (an error at
    // time t can only match clicks in its own bin or the previous
    // one), then the exact range predicate trims bin edges. At 100 TB
    // the bin key bounds every join group by wall-clock density
    // instead of by user history length — the interval-join pattern
    // Flink/KDB users expect, expressed as pure Spark relational ops.
    // A click matches exactly ONE of the two probe bins, so the
    // per-error count never double-counts.
    "q_range_join_binned" -> ((s, d) => {
      val ev = events(s, d).withColumn("tss", date_trunc("second", col("ts")))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("tss").as("ets"),
          expr("unix_timestamp(date_trunc('second', ts)) div 600").as("eb"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("tss").as("cts"),
          expr("unix_timestamp(date_trunc('second', ts)) div 600").as("cb"))
      err.withColumn("pb", explode(array(col("eb"), col("eb") - 1)))
        .join(clk, col("eu") === col("cu") && col("pb") === col("cb")
          && col("cts") >= col("ets") - expr("INTERVAL 10 MINUTES")
          && col("cts") < col("ets"), "left")
        .groupBy("event_id").agg(count(col("cts")).as("n_clicks"))
        .orderBy("event_id")
    }),

    // #26c the RUNTIME-FILTER pattern as a declared query: a selective
    // dim subset (urgent orders, ~20% of keys) would normally still
    // shuffle the ENTIRE fact side; here a Bloom filter built on the
    // dim keys broadcasts and pre-filters lineitem BEFORE its shuffle
    // — the manual form of Catalyst's InjectRuntimeFilter, declared so
    // the engine's answer is proven identical to the plain join (false
    // positives pass the Bloom but die in the exact join; false
    // negatives cannot exist, so no row is lost). The probe UDF is
    // justified: the bloom probe has no public codegen builtin, and it
    // replaces a full-fact shuffle with a broadcast bitmap test.
    "q_join_bloom_prefilter" -> ((s, d) => {
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      // memoized per (session, sfDir): `.stat.bloomFilter` is a full
      // Spark action, and running it at frame BUILD made a plan-only
      // look (graft.tools.Plans) pay an orders scan — the same class
      // the deferred contracts fixed. ownMemo keeps the bench billing
      // this build cold every attempt.
      // data fingerprint in the key (see Sketches.tokenBloom): a stale
      // urgent-key filter would silently change which lineitem rows
      // reach the exact join after an in-place orders rewrite
      val bloom = urgentBloomCache.get(s,
        s"$d|${graft.engine.SessionCache.dataFingerprint(s"$d/orders.parquet")}") {
        // empty-slice guard (see Sketches.tokenBloom): zero urgent
        // orders must yield an all-false filter, not a null-buffer NPE
        if (urgent.isEmpty)
          org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.01)
        else urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
      }
      val bc = s.sparkContext.broadcast(bloom)
      val might = graft.engine.sketch.Sketches.udfMightContainLong(bc)
      lineitem(s, d).filter(might(col("l_orderkey")))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2)
            .cast("double").as("gross"))
        .orderBy("yr")
    }),

    // #45+ the TYPED cogroup surface: per-key reconciliation of two
    // datasets (order keys vs event user ids) through
    // `KeyValueGroupedDataset.cogroup` — the Dataset API's answer to
    // "custom per-key logic over BOTH sides without materializing a
    // join" (both sides shuffle once on the key; each key's two
    // iterators stream through one task). Here the kernel is
    // deliberately simple (side counts + presence flag) so the oracle
    // can replay it as a full-outer aggregate join; the API shape is
    // what's declared — the same cogroup carries arbitrary per-key
    // reconciliation logic at 100 TB.
    "q_cogroup_reconcile" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      // null boundary BEFORE the typed encoders: a NULL key row kills
      // the job ([NOT_NULL_ASSERT_VIOLATION] — the Long encoder has no
      // null slot), and a NULL id is not a reconcilable entity anyway;
      // the oracle gates both CTEs on the same predicate
      val os = orders(s, d).filter(col("o_custkey").isNotNull)
        .select(col("o_custkey")).as[Long]
      val es = events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id")).as[Long]
      os.groupByKey(identity).cogroup(es.groupByKey(identity)) { (k, a, b) =>
        val na = a.size.toLong; val nb = b.size.toLong
        Iterator((k, na, nb, na > 0 && nb > 0))
      }.toDF("id", "n_orders", "n_events", "in_both").orderBy("id")
    }),

    // #26b the SKEW path as a declared query: the same equi-join
    // semantics routed through Salt.saltedJoin — content-salted probe
    // side, dimension replicated once per salt, join key (key, salt)
    // so a hot part key scatters across 8 shuffle partitions. The
    // result must be IDENTICAL to the plain join, which is exactly
    // what the oracle checks. At 100 TB this is the manual fallback
    // when AQE can't re-split the skew (post-aggregation inputs).
    "q_join_salted" -> ((s, d) => {
      val li = lineitem(s, d).select("l_partkey", "l_extendedprice", "l_discount")
      val p = part(s, d).select(col("p_partkey").as("l_partkey"), col("p_type"))
      Salt.saltedJoin(li, p, "l_partkey", salts = 8)
        .groupBy("p_type")
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_type")
    }),

    // #26c the AQE-CONFIG skew path as a declared query (the engine
    // twin of `q_join_salted`'s manual salting): the same skewed-join
    // problem left UNSALTED, solved by AQE's OptimizeSkewedJoin under
    // session-scoped skew thresholds. The fixture's one genuinely
    // skewed join key is documents.lang (en ≈ 40% of rows, carrying
    // the text payload), joined against a written-and-read-back
    // per-lang dim so BOTH SortMergeJoin inputs are plain scans —
    // OptimizeSkewedJoin pattern-matches SMJ(sort(shuffle),
    // sort(shuffle)) and an aggregate between shuffle and join
    // disqualifies the side. The post-join aggregate keys on `source`
    // (NOT the join key), so the join's hash(lang) partitioning can't
    // be reused downstream — AQE is free to split the skewed
    // partition without breaking a required distribution (splitting
    // is vetoed when the join's partitioning feeds a downstream
    // requirement). DEFERRED CONTRACT (round-9 verdict #4, like
    // `k_sweep_determinism_contract`): the skew thresholds must be
    // live at EXECUTION, so the join runs under session-scoped confs
    // (saved/restored in finally) inside the deferred thunk below —
    // at the scan's planInputPartitions, driver-side, on first
    // execution — and building this DataFrame is pure plan
    // construction (plan-only tools no longer pay the join). The
    // thresholds are FIXTURE-scaled (8 KB / 4 KB advisory — at 100 TB
    // the 256 MB/64 MB defaults are the right values; the declared
    // mechanism is the conf path itself), and the repartition(16)
    // ahead of the join stands in for the thousands of map tasks a
    // production scan feeds the shuffle with — AQE splits a skewed
    // reduce partition by MAP-OUTPUT ranges, so a single-mapper
    // fixture stage has nothing to split by. RelProfileSpec pins
    // `SortMergeJoin(skew=true)` on the lang key in the captured
    // final adaptive plan (captured by the thunk at execution).
    "q_join_skew_aqe" -> ((s, d) =>
      s.read.format(graft.engine.source.DeferredContractSource.FORMAT)
        .option("contract", "skew_join_aqe").option("sfDir", d).load()
        .orderBy("source")),

    // #28b time-series gap-fill + forward-fill: per-user hourly grid
    // (min..max hour via `sequence`), LEFT join of the observed hourly
    // aggregate, then last-non-null carry-forward over a PARTITIONED
    // running window — the classic resample/ffill a feature pipeline
    // runs before training. Scale shape: the grid explode is per-row
    // arithmetic, the join is an equi-join on (user, hour), and the
    // fill window partitions by user — no global sort anywhere. The
    // first grid hour always has data (it comes from MIN(ts)), so the
    // fill is total.
    "q_timeseries_fill" -> ((s, d) => {
      val ev = events(s, d).withColumn("h", date_trunc("hour", col("ts")))
      val hourly = ev.groupBy("user_id", "h").agg(round(sum("value"), 4).as("hv"))
      // SPAN CAP (round 14, conf graft.timeseries.maxGridHours,
      // default 2M h ≈ 228 years): the grid is min..max PER USER, so a
      // single sentinel date (a year-9999 "never expires", a year-1
      // epoch bug) makes one user's sequence() array ~70M entries — a
      // probed 10-minute hang in BOTH engines, from ONE corrupt row.
      // A user whose span exceeds the cap is excluded from the fill by
      // declaration (their span is meaningless, not resampleable);
      // the oracle's span CTE mirrors the same bound via ConfEnv. The
      // default keeps every driver/probe fixture span (max ~657k h)
      // untouched.
      val capH = s.conf.get("graft.timeseries.maxGridHours", "2000000").toLong
      val span = ev.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
        .filter(unix_timestamp(col("h1")) - unix_timestamp(col("h0"))
          <= lit(capH * 3600L))
      val grid = span.select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("v_filled", last("hv", ignoreNulls = true).over(w))
        .withColumn("is_gap", when(col("hv").isNull, 1).otherwise(0))
        .select(col("user_id"), unix_timestamp(col("h")).as("h"),
          col("v_filled"), col("is_gap"))
        .orderBy("user_id", "h")
    }),

    // #29 hash aggregate, TPC-H Q1 shape (partial+final auto)
    "q_agg_groupby" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2).cast("double").as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
            .cast("double").as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // #30 exact distinct + approx (approx is engine-only, no oracle)
    "q_agg_distinct" -> ((s, d) =>
      lineitem(s, d).groupBy("l_suppkey")
        .agg(countDistinct("l_partkey").as("n_parts"), count(lit(1)).as("n_items"))
        .orderBy("l_suppkey")),

    "q_agg_approx" -> ((s, d) =>
      lineitem(s, d).groupBy("l_suppkey")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"))
        .orderBy("l_suppkey")),

    // SKEW-SAFE two-phase distinct count over hot group keys (the
    // aggregation twin of q_join_salted): phase 1 counts distinct
    // within (key, salt) where salt = hash(VALUE) mod 32 — the value
    // hash makes the per-salt distinct sets provably DISJOINT, so
    // phase 2 just SUMs them. A hot key's distinct work spreads over
    // 32 reducers instead of one; the oracle is the plain
    // COUNT(DISTINCT) it must equal. l_returnflag (3 values over the
    // whole fact table) is exactly the cardinality where the
    // single-reducer-per-key plan dies at 100 TB.
    "q_agg_distinct_salted" -> ((s, d) =>
      lineitem(s, d)
        .withColumn("salt", pmod(hash(col("l_partkey")), lit(32)))
        .groupBy("l_returnflag", "salt")
        .agg(countDistinct("l_partkey").as("pd"))
        .groupBy("l_returnflag")
        .agg(sum("pd").as("n_parts"))
        .orderBy("l_returnflag")),

    // statistical aggregates (shared Pearson/sample definitions)
    "q_agg_stats" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
          round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qp"),
          round(stddev_samp("l_quantity"), 6).as("sd_q"),
          round(var_samp("l_discount"), 6).as("var_d"))
        .orderBy("l_returnflag")),

    // exact interpolated median (ordered-set aggregate surface)
    "q_agg_median" -> ((s, d) =>
      orders(s, d).groupBy("o_orderpriority")
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 6).as("med"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // #31 rollup (NULL grouping slots made explicit for the oracle)
    "q_agg_rollup" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        // yr computed BEFORE the rollup: grouping() below must name a
        // plain grouping ATTRIBUTE (an aliased expression in the
        // rollup list is unmatchable by either alias or expression)
        .withColumn("yr", year(col("o_orderdate")))
        .rollup(col("n_name"), col("yr"))
        // decimal-exact money sum (this file's own discipline — the
        // grand-total row sums the whole table, where double
        // summation-order drift can reach the 0.005 round boundary);
        // GROUPING() distinguishes the subtotal slot (-1/__ALL__)
        // from a data-NULL year/nation (-2/__NULL__): coalescing both
        // to one sentinel left two identical keys whose relative
        // order the final sort could not pin across engines
        .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"), count(lit(1)).as("n"),
          grouping(col("n_name")).as("gn"), grouping(col("yr")).as("gy"))
        .select(when(col("gn") === 1, lit("__ALL__"))
            .otherwise(coalesce(col("n_name"), lit("__NULL__"))).as("nation"),
          when(col("gy") === 1, lit(-1))
            .otherwise(coalesce(col("yr"), lit(-2))).as("yr"),
          col("revenue"), col("n"))
        .orderBy("nation", "yr")),

    // #31b cube — the full grouping-set lattice over the same dims
    // (rollup's missing (∅, yr) slice included); same NULL-slot
    // discipline for the oracle
    "q_agg_cube" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        // yr computed BEFORE the cube: grouping() below must name a
        // plain grouping ATTRIBUTE (an aliased expression in the
        // cube list is unmatchable by either alias or expression)
        .withColumn("yr", year(col("o_orderdate")))
        .cube(col("n_name"), col("yr"))
        // decimal-exact money sum (this file's own discipline — the
        // grand-total row sums the whole table, where double
        // summation-order drift can reach the 0.005 round boundary);
        // GROUPING() distinguishes the subtotal slot (-1/__ALL__)
        // from a data-NULL year/nation (-2/__NULL__): coalescing both
        // to one sentinel left two identical keys whose relative
        // order the final sort could not pin across engines
        .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"), count(lit(1)).as("n"),
          grouping(col("n_name")).as("gn"), grouping(col("yr")).as("gy"))
        .select(when(col("gn") === 1, lit("__ALL__"))
            .otherwise(coalesce(col("n_name"), lit("__NULL__"))).as("nation"),
          when(col("gy") === 1, lit(-1))
            .otherwise(coalesce(col("yr"), lit(-2))).as("yr"),
          col("revenue"), col("n"))
        .orderBy("nation", "yr")),

    // #32 window ranking: top-3 orders per customer
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"), dense_rank().over(w).as("drnk"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // #33 window frame: running revenue + lag delta per customer
    "q_window_frame" -> ((s, d) => {
      val ord = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // date boundary: a dateless order has no position in a
      // date-ordered running frame — and engine null-ORDERING defaults
      // diverge (Spark ASC=NULLS FIRST, DuckDB=NULLS LAST), so leaving
      // such rows in makes every later running sum engine-dependent.
      // The oracle gates on the same predicate.
      orders(s, d).filter(col("o_orderdate").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(frame), 2).as("running"),
          round(col("o_totalprice") - lag("o_totalprice", 1).over(ord), 2).as("delta"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // #33b VALUE-based window frame (RANGE, the one ROWS can't
    // express): trailing-30-day revenue + order count per customer —
    // the moving-aggregate shape feature pipelines compute per entity.
    // The frame is keyed on the day NUMBER (value distance, not row
    // count), so same-day ties fall into the frame identically for
    // every peer row — deterministic without a tiebreak column.
    // Decimal cast before the sum keeps the windowed total exact;
    // scale shape: one shuffle on o_custkey, per-partition sort, no
    // global ordering until the declared output sort.
    "q_window_range_frame" -> ((s, d) => {
      val withDay = orders(s, d).withColumn("day",
        datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date"))
          .cast("long"))
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
      withDay.select(col("o_custkey"), col("o_orderkey"), col("day"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")).over(w), 2)
            .cast("double").as("rev30"),
          count(lit(1)).over(w).as("n30"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // #34 global top-k → TakeOrderedAndProject
    "q_topk" -> ((s, d) =>
      lineitem(s, d)
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)),

    // #35 set ops over aligned (id) schemas
    "q_union" -> ((s, d) =>
      orders(s, d).select(col("o_custkey").as("id"))
        .union(events(s, d).select(col("user_id").as("id")))
        .distinct().orderBy("id")),

    "q_intersect" -> ((s, d) =>
      orders(s, d).select(col("o_custkey").as("id"))
        .intersect(events(s, d).select(col("user_id").as("id")))
        .orderBy("id")),

    "q_except" -> ((s, d) =>
      orders(s, d).select(col("o_custkey").as("id"))
        .except(events(s, d).select(col("user_id").as("id")))
        .orderBy("id")),

    // #36 scalar string functions
    "q_scalar_string" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("prefix"),
        length(col("p_name")).as("len"),
        concat(col("p_brand"), lit("|"), col("p_type")).as("bt"),
        when(col("p_name").like("%e%"), 1).otherwise(0).as("has_e"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
        .orderBy("p_partkey")),

    // #37 scalar date functions (session TZ pinned UTC)
    "q_scalar_date" -> ((s, d) =>
      orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
        date_add(col("o_orderdate").cast("date"), 30).as("due"))
        .orderBy("o_orderkey")),

    // #38 scalar math / conditional functions
    "q_scalar_math" -> ((s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
          * (lit(1).cast("decimal(4,2)") + col("l_tax").cast("decimal(4,2)")), 2)
          .cast("double").as("eff"),
        round(abs(col("l_discount") - 0.05), 6).as("absd"),
        round(sqrt(col("l_quantity")), 6).as("sq"),
        when(col("l_quantity") < 10, "low").when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("band"),
        round(coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)), 6).as("nzdisc"))
        .orderBy("l_orderkey", "l_linenumber")),

    // #39 array higher-order functions over embeddings
    "q_array_fns" -> ((s, d) => {
      val s8 = slice(transform(col("embedding"), x => x.cast("double")), 1, 8)
      embeddings(s, d).select(
        col("vec_id"),
        round(aggregate(s8, lit(0.0), (a, x) => a + x), 6).as("sum8"),
        round(array_max(s8), 6).as("max8"),
        size(array_distinct(transform(s8, x => round(x, 1)))).as("nd"),
        // try_element_at, not element_at: a vector shorter than 3
        // elements (this query reads embeddings RAW, outside the
        // dimension-gated universe, by declaration) yields NULL —
        // DuckDB's out-of-bounds list index — where ANSI element_at
        // aborted the job on the ragged fixture row
        round(try_element_at(sort_array(s8), lit(3)), 6).as("third"),
        size(filter(s8, x => x > 0)).as("npos"))
        .orderBy("vec_id")
    }),

    // #40 JSON parsing: from_json + get_json_object over events.props
    "q_json_fns" -> ((s, d) =>
      events(s, d)
        // DUPLICATE-KEY boundary (round 15): a top-level object with a
        // repeated key has NO well-defined extraction — Spark itself
        // disagrees per function (from_json keeps the LAST occurrence,
        // get_json_object the FIRST) and DuckDB keeps the first — so
        // such rows exit the k-extraction universe (k = gk = NULL) on
        // both faces. json_object_keys returns the duplicates ([k, k]),
        // making the gate one codegen'd per-row predicate; the oracle
        // mirrors it with json_keys/list_distinct. size(NULL array) is
        // NULL under Spark 4 defaults → coalesce keeps non-object /
        // invalid-JSON rows on their existing NULL path.
        .withColumn("__dupkey", coalesce(
          size(expr("json_object_keys(props)")) =!=
            size(array_distinct(expr("json_object_keys(props)"))), lit(false)))
        .withColumn("k", when(!col("__dupkey"), from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")))
        // try_cast, NOT cast: Spark 4 is ANSI by default, so a plain
        // cast THROWS on the first '{"k": 5.7}' or '{"k": "x"}' in the
        // stream — a latent whole-query crash at adversarial props the
        // integer-only fixture never fired. try_cast('5.7') = NULL,
        // matching the oracle's integer-format regex gate.
        .withColumn("gk", when(!col("__dupkey"),
          expr("try_cast(get_json_object(props, '$.k') AS int)")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"), max("gk").as("max_k"))
        .orderBy("event_type")),

    // #40b map-type function surface (json covered by q_json_fns):
    // construct a map column, extract by key, enumerate keys, fold
    // values — all codegen'd per-row expressions, no shuffle beyond
    // the output sort. DuckDB's MAP extraction returns a LIST, so the
    // oracle unwraps with [1]; values stay DOUBLE on both sides.
    "q_map_fns" -> ((s, d) =>
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          map(lit("qty"), col("l_quantity"),
            lit("disc"), col("l_discount"),
            lit("tax"), col("l_tax")).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(element_at(col("m"), "qty"), 6).as("qty"),
          size(map_keys(col("m"))).as("nk"),
          round(aggregate(map_values(col("m")), lit(0.0), (a, x) => a + x), 6)
            .as("vsum"))
        .orderBy("l_orderkey", "l_linenumber")),

    // correlated subqueries (EXISTS + two correlated scalars) via the
    // SQL face — Catalyst decorrelates both into joins (RewriteCorrelated
    // ScalarSubquery / RewritePredicateSubquery), so this exercises a
    // planning path the DataFrame-built joins don't. Scalars are exact
    // (COUNT / MAX — no float arithmetic at a comparison boundary).
    "q_subquery" -> ((s, d) =>
      graft.engine.SqlSurface.sql(s, d,
        """SELECT c_custkey, c_name,
          |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |  (SELECT MAX(o.o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          |ORDER BY c_custkey""".stripMargin)),

    // #28c AS-OF join (feature-store "latest click strictly-or-equal
    // before each error"), implemented the scale-correct way: tag both
    // sides, UNION, one partitioned window carrying the last click
    // forward — a SINGLE shuffle on user_id, never the per-pair
    // range join (quadratic per hot user) and never a BNLJ. The
    // click columns are carried by separate last(ignoreNulls) calls,
    // which stay mutually consistent because they are non-null on
    // exactly the same (click) rows. Ties: same-second click sorts
    // before the error (kind 0 < 1 → inclusive as-of), same-second
    // clicks resolve by highest event_id.
    "q_asof_join" -> ((s, d) =>
      asofCore(events(s, d).filter(col("event_type").isin("click", "error"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("es"),
          when(col("event_type") === "click", 0).otherwise(1).as("kind")))),

    // #28d batch sessionization: 30-minute-gap sessions per user via
    // lag + running cumsum — the batch twin of q_stream_session.
    // Scale shape: both windows partition by user_id (ONE shuffle,
    // reused by the final aggregation); no global sort. Epoch-second
    // integer arithmetic keeps the gap test engine-exact.
    "q_sessionize" -> ((s, d) =>
      // time boundary: an event without a timestamp cannot be
      // sessionized (and null-ORDERING defaults diverge across
      // engines, silently renumbering every later session) — the
      // oracle gates identically
      sessionizeCore(events(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"), col("value")))),

    // #28e CDC compaction / latest-per-key: collapse an event log to
    // each key's most recent record (latest = max over (es, event_id),
    // event_id tie-break at equal seconds) — the standard snapshot
    // step before joining mutable dimensions at scale. Latest-per-key
    // is an ARGMAX: max(struct(es, event_id, payload…)) inside a hash
    // aggregate picks the identical row to the former row_number-over-
    // (es DESC, event_id DESC) window (struct ordering is field-by-
    // field; a NULL es ranks below every value = the window's DESC
    // NULLS LAST; (es, event_id) is total per key), with no per-key
    // sort and with partial aggregation collapsing each task's events
    // to one row per key BEFORE the user_id exchange — at 100 TB the
    // shuffle carries keys, not the event log.
    "q_cdc_latest" -> ((s, d) => {
      events(s, d).select(col("user_id"),
          struct(unix_timestamp(date_trunc("second", col("ts"))).as("es"),
            col("event_id"), col("event_type"), col("value")).as("r"))
        .groupBy("user_id").agg(max("r").as("m"))
        .select(col("user_id"), col("m.es").as("last_es"),
          col("m.event_type").as("last_type"), round(col("m.value"), 4).as("last_value"))
        .orderBy("user_id")
    }),

    // #28f SCD type-2 build: turn the event log into validity
    // intervals per user — valid_from = the event's second,
    // valid_to = the next event's second − 1 (NULL = current row) —
    // the standard slowly-changing-dimension construction a warehouse
    // runs before point-in-time joins. One lead() over the same
    // user-partitioned shuffle as the other event ops. Same-second
    // events produce the standard degenerate interval (valid_to <
    // valid_from), deterministic under the event_id tie-break.
    "q_scd2_build" -> ((s, d) => {
      // time boundary (same contract as q_sessionize): an undated
      // change record has no place in a validity chain
      val ev = events(s, d).filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"),
        col("event_type"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      ev.withColumn("valid_to", lead("es", 1).over(w) - 1)
        .select(col("user_id"), col("event_id"), col("es").as("valid_from"),
          col("valid_to"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // #31b GROUPING SETS proper (rollup/cube cover only their fixed
    // lattices) via the SQL face — the same SQL text IS the oracle, so
    // the check is engine-vs-engine on an identical parse. Decimal
    // sums keep the measure drift-free.
    "q_grouping_sets" -> ((s, d) => graft.engine.SqlSurface.sql(s, d, GROUPING_SETS_SQL)),

    // Spark 4 native WITH RECURSIVE through the SQL face — see
    // RECURSIVE_HIERARCHY_SQL for why the declared recursion is the
    // single-parent tree walk, not a graph closure.
    "q_recursive_hierarchy" -> ((s, d) =>
      graft.engine.SqlSurface.sql(s, d, RECURSIVE_HIERARCHY_SQL)),

    // #31c unpivot/melt: wide per-flag measures → long (rf, measure,
    // value) — the DataFrame unpivot surface (Spark's UNPIVOT
    // LogicalPlan), oracled by a DuckDB UNION ALL of the same
    // decimal-exact measures. Narrow input (3 fixed columns), so the
    // explode is per-row; no shuffle beyond the feeding aggregation.
    "q_unpivot" -> ((s, d) => {
      val wide = lineitem(s, d).groupBy(col("l_returnflag").as("rf"))
        .agg(round(sum(col("l_quantity").cast("decimal(12,2)")), 2).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(14,2)")), 2).cast("double").as("sum_price"),
          round(sum(col("l_discount").cast("decimal(8,4)")), 4).cast("double").as("sum_disc"))
      wide.unpivot(Array(col("rf")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")), "measure", "value")
        .orderBy("rf", "measure")
    }),

    // #40c LATERAL correlated subquery (top-2 customers per nation by
    // acctbal) via the SQL face — Catalyst decorrelates the
    // ORDER BY ... LIMIT lateral into a ranked window join
    // (DecorrelateInnerQuery), the planning path SQL users hit that
    // q_subquery's scalar/EXISTS forms don't. Same text runs in DuckDB.
    "q_lateral" -> ((s, d) => graft.engine.SqlSurface.sql(s, d, LATERAL_SQL)),

    // MERGE INTO semantics, batch form: apply the event log as a CDC
    // delta to the customer snapshot — latest event per key wins
    // (same es/event_id tie-break as q_cdc_latest), 'error' = DELETE,
    // anything else UPSERTs the balance; base rows without a delta
    // survive unchanged, delta keys outside the base INSERT. The
    // declared result is the POST-MERGE snapshot with the per-row
    // action, i.e. the full lakehouse merge surface without a table
    // format. Scale shape: one partial-agged argmax for the delta,
    // one shuffle full-outer join on the merge key — no broadcast
    // needed (both sides are fact-sized at 100 TB), AQE handles skew.
    "q_merge_upsert" -> ((s, d) => {
      val base = customer(s, d).select(col("c_custkey").as("mk"),
        round(col("c_acctbal").cast("double"), 2).as("bal"))
      // latest-per-key delta as the q_cdc_latest argmax hash agg (same
      // (es DESC, event_id DESC) pick, no window sort, partial-agg
      // collapse before the user_id exchange)
      val delta = events(s, d).select(col("user_id"),
          struct(unix_timestamp(date_trunc("second", col("ts"))).as("es"),
            col("event_id"), col("event_type"), col("value")).as("r"))
        .groupBy("user_id").agg(max("r").as("m"))
        .select(col("user_id").as("mk"), col("m.event_type").as("event_type"),
          round(col("m.value"), 4).as("new_bal"))
      // presence marker, NOT the nullable measure: classifying
      // "inserted" off bal.isNull would call a base row with a NULL
      // balance "inserted" (inert on TPC-H's non-null acctbal; wrong
      // on adversarial data) — and the oracle used to restate the
      // same proxy, so the shared misclassification was invisible to
      // the compare. The marker survives the full-outer join as the
      // true base-presence test; the oracle keys on b.mk IS NULL.
      base.withColumn("__in_base", lit(true))
        .join(delta, Seq("mk"), "full_outer")
        // delete only when a delta row says 'error'; NULL event_type
        // (base-only row) keeps — coalesce gives the tri-state filter
        .filter(coalesce(col("event_type") =!= "error", lit(true)))
        .select(col("mk"),
          when(col("event_type").isNotNull, col("new_bal"))
            .otherwise(col("bal")).as("bal"),
          when(col("__in_base").isNull, lit("inserted"))
            .when(col("event_type").isNull, lit("kept"))
            .otherwise(lit("updated")).as("op"))
        .orderBy("mk")
    }),

    // fixed-width 20-bucket histogram of l_extendedprice — the
    // data-profiling primitive. All bucket math is EXACT INTEGER
    // arithmetic over cents (one ROUND→CAST per row, then DIV): both
    // engines compute identical bucket ids with no float-boundary
    // ambiguity at bucket edges. Scale shape: one min/max agg
    // (1-row broadcast) + one map-side bucketing pass feeding a
    // ≤20-group hash agg — two scans of one pruned column, partial
    // aggregation absorbs everything before the only shuffle.
    "q_histogram" -> ((s, d) => {
      val li = lineitem(s, d).select(
        expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      val mm = li.agg(min("cents").as("lo"), max("cents").as("hi"))
      li.crossJoin(broadcast(mm))
        .withColumn("bucket", expr("(cents - lo) DIV ((hi - lo) DIV 20 + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bucket")
    }),

    // per-nation account-balance quartiles: ntile(4) over a
    // PARTITIONED window (total order via the c_custkey tie-break —
    // ntile is order-sensitive), then a per-(nation, quartile)
    // profile. The partitioned window is the scale-correct form:
    // rows shuffle once by nation and each partition sorts locally;
    // an unpartitioned ntile would serialize the table through one
    // task. avg is ROUND(·,4): thousands-scale money means 1e-8
    // summation-order drift, comfortably inside 4 decimals.
    "q_ntile" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      customer(s, d).withColumn("q", ntile(4).over(w))
        .groupBy("c_nationkey", "q")
        .agg(count(lit(1)).as("n"),
          round(min("c_acctbal"), 2).as("lo"),
          round(max("c_acctbal"), 2).as("hi"),
          round(avg("c_acctbal"), 4).as("avg_bal"))
        .orderBy("c_nationkey", "q")
    }),

    // WINDOWED funnel analysis view → click → purchase: the click
    // must land within 1 h of the user's FIRST view (inclusive
    // same-second, the q_asof_join convention) and the purchase
    // within 24 h of that qualifying click — the standard
    // conversion-window form, which produces real drop-off instead
    // of the everyone-converts-eventually degenerate histogram.
    // Declared output is the stage-reached histogram. Scale shape:
    // each stage is a filtered per-user hash agg equi-joined to the
    // previous stage on user_id — no windows, no self-join of the
    // raw log; the per-user stage table is users-sized, not
    // events-sized, before the final ≤4-row agg.
    "event_funnel" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"),
        col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("es").as("tv"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("es") >= col("tv") && col("es") <= col("tv") + 3600)
        .groupBy("user_id").agg(min("es").as("tc"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("es") >= col("tc") && col("es") <= col("tc") + 86400)
        .groupBy("user_id").agg(min("es").as("tp"))
      ev.select("user_id").distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(when(col("tp").isNotNull, 3)
          .when(col("tc").isNotNull, 2)
          .when(col("tv").isNotNull, 1)
          .otherwise(0).as("stage_reached"))
        .groupBy("stage_reached").agg(count(lit(1)).as("n_users"))
        .orderBy("stage_reached")
    }),

    // cohort retention matrix: users cohorted by FIRST-event day,
    // counted on each subsequent active day offset — the engagement
    // report every event pipeline publishes. Day ids are exact
    // integer epoch-day DIV, so both engines bucket identically.
    // Scale shape: dedup to (user, day) first (events-sized shuffle
    // ONCE, partial agg absorbs repeats), min-day per user, one
    // user_id equi-join, one (cohort, offset) hash agg.
    "retention_cohort" -> ((s, d) => {
      val ed = events(s, d).select(col("user_id"),
          expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("day"))
        .distinct()
      val first = ed.groupBy("user_id").agg(min("day").as("cohort_day"))
      ed.join(first, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // approximation CONTRACTS as oracle-checked queries (the
    // ann_recall pattern applied to the built-in sketches): the
    // oracle can't reproduce Spark's GK/HLL internals, but it CAN
    // assert the exact counts and that the approximation honors its
    // published bound — so a sketch regression becomes a hash
    // mismatch, not a silent quality drift.
    //
    // percentile_approx(accuracy=1000) guarantees RANK error ≤ n/1000:
    // the number of values ≤ the approximate median must sit within
    // n/2 ± (n/1000 + 1). Exact n and the bound verdict are the
    // declared output.
    "approx_quantile_rank_error" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_extendedprice").as("x"))
      val ap = li.agg(expr("percentile_approx(x, 0.5D, 1000)").as("ap"))
      li.crossJoin(broadcast(ap))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") <= col("ap"), 1L).otherwise(0L)).as("rank_at_ap"))
        .select(col("n"),
          // vacuously TRUE on an empty table (rank_at_ap is a NULL
          // sum there, and the rank error of nothing is zero) —
          // matching the oracle's constant-verdict form
          coalesce(abs(col("rank_at_ap") - col("n") / 2)
            <= col("n") / lit(1000) + lit(1), lit(true)).as("within_bound"))
    }),

    // approx_count_distinct(rsd=0.05): relative error within 3·rsd of
    // the exact distinct count (a ≥99.7% bound for HLL++; the sketch
    // is deterministic per dataset, so the verdict is stable).
    "approx_distinct_error" -> ((s, d) =>
      orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("exact"),
          approx_count_distinct(col("o_custkey"), 0.05).as("approx"))
        .select(col("exact"),
          (abs(col("approx") - col("exact")).cast("double")
            <= col("exact") * lit(0.15)).as("within_bound"))),

    // NULL-semantics pin: a derived nullable column exercises the
    // exact spots engines diverge — GROUP BY collects NULLs into ONE
    // group, COUNT(col) skips NULLs while COUNT(*) doesn't,
    // COUNT(DISTINCT col) ignores NULL, and the output ORDER must
    // state its NULL position EXPLICITLY (Spark defaults NULLS FIRST
    // ascending, DuckDB NULLS LAST — an unpinned sort diverges even
    // with identical rows). Declaring this as a query makes the
    // engine's NULL contract an oracle-checked behavior, not a hope.
    "q_null_semantics" -> ((s, d) =>
      customer(s, d)
        .withColumn("seg", expr("nullif(c_mktsegment, 'BUILDING')"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_rows"),
          count(col("seg")).as("n_nonnull"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy(col("seg").asc_nulls_first)),

    // exact DECIMAL money aggregation — the drift-free discipline for
    // currency at 100 TB: sums aggregate in DECIMAL(12,2) (exact,
    // order-independent — no ROUND crutch needed), and only the FINAL
    // one-row-per-group result casts to double (exact below 2⁵³
    // cents). The one place the engine's float-rounding discipline is
    // not needed because the arithmetic itself is exact.
    "q_decimal_exact" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("p"),
          col("l_quantity").cast("decimal(12,2)").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("p").cast("double").as("sum_price"),
          sum("q").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")),

    // pairwise Pearson correlation matrix over lineitem's numeric
    // columns — the multicollinearity screen of a profiling pass.
    // All 6 unordered pairs evaluate in ONE single-pass hash
    // aggregation over the pruned 4-column scan (corr is a mergeable
    // moment sketch in both engines); the wide 1-row result unpivots
    // to (c1, c2, corr) rows via a stack projection, not a join.
    "q_correlation_matrix" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__$b")
      }
      val wide = lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      val stack = pairs.map { case (a, b) => s"'$a', '$b', ${a}__$b" }
        .mkString(", ")
      wide.select(expr(
          s"stack(${pairs.length}, $stack) AS (c1, c2, corr)"))
        .orderBy("c1", "c2")
    }),

    // per-type OLS drift detector: slope/intercept/R² of event value
    // against days-since-epoch-anchor (x CENTERED on the fixture's
    // 2024-01-01 anchor — uncentered day ids ~19 700 put 7 digits of
    // catastrophic cancellation into n·Σx²−(Σx)², where cross-engine
    // summation order would surface above ROUND(·,6)). The regr_*
    // family is a single-pass mergeable aggregate in both engines —
    // one hash agg over the log, no window, no join.
    "value_drift_regression" -> ((s, d) =>
      // finiteness boundary (round 14): a regression over NaN/±Inf
      // samples is undefined — Spark's regr_* propagates NaN where
      // DuckDB's VARPOP raises "out of range", the one cross-engine
      // divergence a broad non-finite events probe surfaced (every
      // other event query agrees on NaN propagation, so the boundary
      // is declared HERE, not on the events table). NULL values stay:
      // regr_* skips them while n counts the row, as before.
      events(s, d)
        .filter(col("value").isNull
          || (!isnan(col("value")) && abs(col("value")) =!= lit(Double.PositiveInfinity)))
        .select(col("event_type"), col("value"),
          ((unix_timestamp(date_trunc("second", col("ts"))) - lit(1704067200L))
            / lit(86400.0)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(expr("regr_slope(value, x)"), 6).as("slope"),
          round(expr("regr_intercept(value, x)"), 6).as("intercept"),
          round(expr("regr_r2(value, x)"), 6).as("r2"))
        .orderBy("event_type")),

    // referential delete cascade (the GDPR right-to-be-forgotten
    // shape): a deterministic 5% customer deletion list propagates
    // through orders to lineitems, and the declared output is the
    // per-table deleted/kept audit row. Scale shape: the deletion
    // list and the affected-order key set flow as LEFT SEMI/ANTI
    // equi-joins (AQE broadcasts them when small, shuffles when not)
    // — no row is ever rewritten, counted twice, or collected.
    // ONE scan per table (the round-8 plan audit counted EIGHT — each
    // table was read once for its cascade side and again for its
    // total): deleted + total come from one conditional aggregation
    // per table, with the cascade membership attached as a LEFT join
    // against the unique-keyed delete set (key uniqueness ⇒ no row
    // multiplication, so count(matched) ≡ the semi-join count). At
    // 100 TB that halves the fact-table I/O of the audit.
    "q_delete_cascade" -> ((s, d) => {
      val del = customer(s, d).filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey").as("k"))
      val custStats = customer(s, d).agg(
        count(lit(1)).as("n_cust_total"),
        // coalesce: SUM over an empty table is NULL, but "rows deleted
        // from an empty table" is 0 (the oracle counts, which gives 0)
        coalesce(sum(when(col("c_custkey") % 20 === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_cust_deleted"))
      // the delete key set is ~5% of CUSTOMERS — corpus-scaled, the
      // exact growing-dim shape whose forced broadcast was removed
      // from dsir/ann_filtered in round 7: no hint, AQE broadcasts it
      // at bench SF and falls back to the shuffle join at 100 TB
      // instead of OOMing on a foreclosed plan
      val ordFlag = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(del, col("o_custkey") === col("k"), "left")
      val ordStats = ordFlag.agg(
        count(lit(1)).as("n_orders_total"),
        count(col("k")).as("n_orders_deleted"))
      val delOrd = ordFlag.filter(col("k").isNotNull)
        .select(col("o_orderkey").as("ok"))
      val liStats = lineitem(s, d).select(col("l_orderkey"))
        .join(delOrd, col("l_orderkey") === col("ok"), "left")
        .agg(count(lit(1)).as("n_lineitems_total"),
          count(col("ok")).as("n_lineitems_deleted"))
      custStats.crossJoin(ordStats).crossJoin(liStats)
        .select("n_cust_deleted", "n_orders_deleted", "n_lineitems_deleted",
          "n_cust_total", "n_orders_total", "n_lineitems_total")
    }),

    // daily-volume anomaly screen: z-score of each (event_type, day)
    // count against that type's across-days mean/sd — the monitoring
    // query an ingest pipeline alerts on. Declared output is the full
    // (type, day, n, z) matrix (≤ types×days rows at ANY scale — the
    // aggregation, not the output, absorbs the volume), ordered and
    // ROUND(·,6). Scale shape: one (type, day) hash agg over the log
    // (exact integer epoch-day DIV), per-type stats on the tiny
    // day-count table, broadcast back — no windows over the raw log.
    "anomaly_zscore" -> ((s, d) => {
      val td = events(s, d).select(col("event_type"),
          expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val st = td.groupBy("event_type")
        .agg(avg("n").as("mu"), stddev_samp("n").as("sd"))
      td.join(broadcast(st), "event_type")
        // sd = 0 (all days equal) or NULL (single day): emit NULL in
        // BOTH engines — unguarded, Spark's 0.0/0.0 is NaN while
        // DuckDB's is NULL (the ADVICE r4 divergence pattern)
        .select(col("event_type"), col("day"), col("n"),
          round(when(col("sd") > 0, (col("n") - col("mu")) / col("sd")), 6).as("z"))
        .orderBy("event_type", "day")
    }),

    // window distribution functions: percent_rank + cume_dist of each
    // customer's balance WITHIN its nation. The total order (balance,
    // custkey) makes both exact rationals of identical integers —
    // (rank−1)/(n−1) and row_number/n — so the doubles agree
    // bit-for-bit across engines before ROUND(·,6). Same partitioned-
    // window scale shape as q_ntile.
    "q_window_distribution" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      customer(s, d).select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("bal"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("c_custkey")
    }),
  )

  /** q_asof_join core over any `(event_id, user_id, es, kind)` frame
    * (kind 0 = the side carried forward, 1 = the probing side) —
    * factored out so boundary semantics (same-second inclusive match,
    * event_id tie-break, no-prior-click NULL) are unit-testable on
    * crafted rows (EventOpsSpec) independent of the fixture. */
  private[graft] def asofCore(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_es",
        last(when(col("kind") === 0, col("es")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("es"),
        col("click_id"), (col("es") - col("click_es")).as("gap_sec"))
      .orderBy("event_id")
  }

  /** q_sessionize core over any `(event_id, user_id, es, value)` frame;
    * a gap STRICTLY greater than `gapSec` opens a new session (an
    * exactly-`gapSec` gap extends — matching `session_window`'s merge
    * of the exactly-touching case, q_stream_session's documented
    * semantics). Unit-tested at the 1800/1801 boundary in EventOpsSpec. */
  private[graft] def sessionizeCore(ev: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("es", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev", lag("es", 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev").isNull || col("es") - col("prev") > gapSec, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(wRun))
      .groupBy("user_id", "session_id")
      .agg(min("es").as("session_start"), max("es").as("session_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Shared SQL-face texts (query AND oracle — engine-vs-engine on an
    * identical parse). */
  /** Single-parent hierarchy walk (org chart / thread-ancestry / BOM
    * shape) over real customer keys: parent(k) = k div 10 — each row
    * has exactly ONE parent so the recursion's row count is Σ depth
    * (linear, never path-enumerating; a GRAPH closure over the dup
    * pair surface would blow up combinatorially under the UNION ALL
    * restriction — group sizes reach 315 at sf0.01 — which is why the
    * dedup components run label propagation instead, and the
    * recursive face demonstrates the tree walk it is actually good
    * for). Spark 4's native WITH RECURSIVE; DuckDB replays the same
    * walk with `//` for `div`. */
  private val RECURSIVE_HIERARCHY_SQL =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS id, c_custkey AS cur, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT id, cur div 10, depth + 1 FROM walk WHERE cur >= 10)
      |SELECT id, CAST(MAX(depth) AS BIGINT) AS depth,
      |  CAST(MIN(CASE WHEN cur < 10 THEN cur END) AS BIGINT) AS root
      |FROM walk GROUP BY id ORDER BY id""".stripMargin

  private val GROUPING_SETS_SQL =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |HAVING COUNT(*) > 0
      |ORDER BY rf, ls""".stripMargin

  private val LATERAL_SQL =
    """SELECT n_name, c_name, c_acctbal FROM nation,
      | LATERAL (SELECT c_name, c_acctbal FROM customer
      |          WHERE c_nationkey = n_nationkey
      |          ORDER BY c_acctbal DESC, c_name LIMIT 2) AS t
      |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_join_5way" ->
      """SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_join_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_range" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, date_trunc('second', ts) AS tss FROM events),
        |err AS (SELECT event_id, user_id, tss FROM ev WHERE event_type = 'error'),
        |clk AS (SELECT user_id, tss FROM ev WHERE event_type = 'click')
        |SELECT err.event_id, COUNT(clk.tss) AS n_clicks
        |FROM err LEFT JOIN clk ON err.user_id = clk.user_id
        |  AND clk.tss >= err.tss - INTERVAL 10 MINUTE AND clk.tss < err.tss
        |GROUP BY err.event_id ORDER BY err.event_id""".stripMargin,

    // identical semantics to q_join_range — the binned plan must be
    // indistinguishable in its result
    "q_range_join_binned" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, date_trunc('second', ts) AS tss FROM events),
        |err AS (SELECT event_id, user_id, tss FROM ev WHERE event_type = 'error'),
        |clk AS (SELECT user_id, tss FROM ev WHERE event_type = 'click')
        |SELECT err.event_id, COUNT(clk.tss) AS n_clicks
        |FROM err LEFT JOIN clk ON err.user_id = clk.user_id
        |  AND clk.tss >= err.tss - INTERVAL 10 MINUTE AND clk.tss < err.tss
        |GROUP BY err.event_id ORDER BY err.event_id""".stripMargin,

    // the plain join the bloom pre-filter must be invisible against
    "q_join_bloom_prefilter" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS gross
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY yr""".stripMargin,

    "q_cogroup_reconcile" ->
      """WITH o AS (SELECT o_custkey AS id, COUNT(*) AS n_orders FROM orders
        |  WHERE o_custkey IS NOT NULL GROUP BY 1),
        |e AS (SELECT user_id AS id, COUNT(*) AS n_events FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(o.id, e.id) AS id,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_events, 0) AS n_events,
        |  o.id IS NOT NULL AND e.id IS NOT NULL AS in_both
        |FROM o FULL OUTER JOIN e ON o.id = e.id
        |ORDER BY id""".stripMargin,

    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q_agg_distinct_salted" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_q,
        |  ROUND(var_samp(l_discount), 6) AS var_d
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_median" ->
      """SELECT o_orderpriority, ROUND(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // HAVING COUNT(*) > 0 pins the EMPTY-INPUT convention: the SQL
    // standard's () grouping set emits a grand-total row even over
    // zero input rows (DuckDB does), while Spark's rollup/cube emit
    // nothing — the HAVING is a no-op on any non-empty input (every
    // real group aggregates >= 1 row) and aligns the empty case.
    // Same pin inside GROUPING_SETS_SQL (shared Spark/oracle text).
    "q_agg_rollup" ->
      """SELECT CASE WHEN GROUPING(n_name) = 1 THEN '__ALL__'
        |       ELSE COALESCE(n_name, '__NULL__') END AS nation,
        |  CASE WHEN GROUPING(EXTRACT(year FROM o_orderdate)) = 1 THEN -1
        |       ELSE COALESCE(EXTRACT(year FROM o_orderdate), -2) END AS yr,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, EXTRACT(year FROM o_orderdate))
        |HAVING COUNT(*) > 0
        |ORDER BY nation, yr""".stripMargin,

    "q_timeseries_fill" ->
      s"""WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h, value FROM events),
        |hourly AS (SELECT user_id, h, ROUND(SUM(value), 4) AS hv FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY 1
        |  HAVING extract(epoch FROM MAX(h)) - extract(epoch FROM MIN(h))
        |    <= CAST(${graft.engine.ConfEnv.get("graft.timeseries.maxGridHours", "2000000")} AS BIGINT) * 3600),
        |grid AS (SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |j AS (SELECT g.user_id, g.h, hv FROM grid g LEFT JOIN hourly USING (user_id, h))
        |SELECT user_id, CAST(extract(epoch FROM h) AS BIGINT) AS h,
        |  LAST_VALUE(hv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  CASE WHEN hv IS NULL THEN 1 ELSE 0 END AS is_gap
        |FROM j ORDER BY user_id, h""".stripMargin,

    "q_join_salted" ->
      """SELECT p_type,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type ORDER BY p_type""".stripMargin,

    // the AQE path runs the join unsalted; identical semantics, so the
    // oracle is the plain join+aggregate (the q_join_salted pattern)
    "q_join_skew_aqe" ->
      """WITH dim AS (SELECT lang, COUNT(*) AS lang_docs FROM documents GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(AVG(lang_docs), 6) AS avg_lang_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS chars
        |FROM documents JOIN dim USING (lang)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_agg_cube" ->
      """SELECT CASE WHEN GROUPING(n_name) = 1 THEN '__ALL__'
        |       ELSE COALESCE(n_name, '__NULL__') END AS nation,
        |  CASE WHEN GROUPING(EXTRACT(year FROM o_orderdate)) = 1 THEN -1
        |       ELSE COALESCE(EXTRACT(year FROM o_orderdate), -2) END AS yr,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, EXTRACT(year FROM o_orderdate))
        |HAVING COUNT(*) > 0
        |ORDER BY nation, yr""".stripMargin,

    "q_window_rank" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS drnk
        |  FROM orders)
        |SELECT * FROM r WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running,
        |  ROUND(o_totalprice - LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), 2) AS delta
        |FROM orders WHERE o_orderdate IS NOT NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_range_frame" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, day,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rev30,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n30
        |FROM o ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q_union" ->
      """SELECT o_custkey AS id FROM orders UNION SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey AS id FROM orders INTERSECT SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,

    "q_except" ->
      """SELECT o_custkey AS id FROM orders EXCEPT SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,

    "q_scalar_string" ->
      """SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 10)) AS prefix,
        |  LENGTH(p_name) AS len, p_brand || '|' || p_type AS bt,
        |  CASE WHEN p_name LIKE '%e%' THEN 1 ELSE 0 END AS has_e,
        |  REGEXP_EXTRACT(p_name, '^(\w+)', 1) AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_scalar_date" ->
      """SELECT o_orderkey, EXTRACT(year FROM o_orderdate) AS yr,
        |  EXTRACT(month FROM o_orderdate) AS mo, EXTRACT(day FROM o_orderdate) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(o_orderdate AS DATE) + 30 AS due
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS eff,
        |  ROUND(ABS(l_discount - 0.05), 6) AS absd,
        |  ROUND(SQRT(l_quantity), 6) AS sq,
        |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
        |    ELSE 'high' END AS band,
        |  ROUND(COALESCE(NULLIF(l_discount, 0.0), -1.0), 6) AS nzdisc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // NULL-element parity is pinned EXPLICITLY (probed on the
    // adversarial fixture): Spark's aggregate(+) NULL-POISONS the sum
    // while list_sum skips NULLs (CASE gate); array_distinct KEEPS one
    // NULL as a distinct value while list_distinct drops it (+1 when
    // any element is NULL); sort_array is ASC NULLS FIRST while
    // list_sort defaults NULLS LAST (explicit 'NULLS FIRST');
    // array_max and the x>0 filter skip NULLs in both engines.
    "q_array_fns" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS s8 FROM embeddings)
        |SELECT vec_id,
        |  ROUND(CASE WHEN len(list_filter(s8, x -> x IS NULL)) > 0 THEN NULL
        |    ELSE list_sum(s8) END, 6) AS sum8,
        |  ROUND(list_max(s8), 6) AS max8,
        |  len(list_distinct(list_transform(s8, x -> ROUND(x, 1))))
        |    + CASE WHEN len(list_filter(s8, x -> x IS NULL)) > 0 THEN 1 ELSE 0 END AS nd,
        |  ROUND(list_sort(s8, 'ASC', 'NULLS FIRST')[3], 6) AS third,
        |  len(list_filter(s8, x -> x > 0)) AS npos
        |FROM e ORDER BY vec_id""".stripMargin,

    // real JSON parsing (DuckDB's built-in json extension), not the
    // old '"k"\s*:\s*(-?\d+)' regex — the regex agreed with Spark only
    // on flat integer props (it read 5 out of 5.7, missed quoted "5",
    // matched inside nested objects and string values). Each leg
    // mirrors its Spark twin EXACTLY (probed case-by-case on both
    // engines): strict k = from_json(k INT) accepts only JSON integer
    // tokens (json_type UBIGINT/BIGINT); lenient gk = try_cast of the
    // unquoted string accepts integer-format strings only (regex gate
    // — DuckDB's own TRY_CAST would lenient-round '5.7' to 6). The final
    // cast is TRY_CAST, not CAST: the gates pass integer TOKENS of any
    // magnitude (json_type BIGINT; regex \d+), and an int32-overflowing
    // value like 9999999999 must become NULL (as Spark's from_json k INT
    // and try_cast both do), not abort the whole oracle query. The gates
    // have already excluded the inputs where DuckDB's TRY_CAST is more
    // lenient than Spark's ('5.7'), so TRY_CAST here only adds
    // NULL-on-overflow.
    // no_dup mirrors the engine's duplicate-key boundary: a repeated
    // top-level key (json_keys returns the duplicates) NULLs both
    // extractions — Spark's own functions disagree on which occurrence
    // wins, so the row exits the universe identically on both faces.
    // COALESCE(..., TRUE): invalid JSON has json_keys NULL and stays on
    // its existing NULL extraction path.
    "q_json_fns" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k') IN ('UBIGINT','BIGINT')
        |       AND COALESCE(len(json_keys(TRY_CAST(props AS JSON)))
        |         = len(list_distinct(json_keys(TRY_CAST(props AS JSON)))), TRUE)
        |       THEN TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS INTEGER) END AS k,
        |  CASE WHEN regexp_matches(COALESCE(json_extract_string(TRY_CAST(props AS JSON), '$.k'), ''), '^\s*-?\d+\s*$')
        |       AND COALESCE(len(json_keys(TRY_CAST(props AS JSON)))
        |         = len(list_distinct(json_keys(TRY_CAST(props AS JSON)))), TRUE)
        |       THEN TRY_CAST(trim(json_extract_string(TRY_CAST(props AS JSON), '$.k')) AS INTEGER) END AS gk
        |  FROM events)
        |SELECT event_type, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  ROUND(AVG(k), 6) AS avg_k, MAX(gk) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT MAX(o.o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('click', 'error')),
        |m AS (SELECT *,
        |  LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY es, kind, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
        |  LAST_VALUE(CASE WHEN kind = 0 THEN es END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY es, kind, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_es
        |  FROM ev)
        |SELECT event_id, user_id, es, click_id, es - click_es AS gap_sec
        |FROM m WHERE kind = 1 ORDER BY event_id""".stripMargin,

    "q_sessionize" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es, value
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT *, CASE WHEN LAG(es) OVER w IS NULL
        |                       OR es - LAG(es) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, MIN(es) AS session_start, MAX(es) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_cdc_latest" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es,
        |    event_type, value FROM events)
        |SELECT user_id, es AS last_es, event_type AS last_type,
        |  ROUND(value, 4) AS last_value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY es DESC, event_id DESC) AS rn FROM ev)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_map_fns" ->
      """WITH m AS (SELECT l_orderkey, l_linenumber,
        |  MAP(['qty', 'disc', 'tax'],
        |      [CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE),
        |       CAST(l_tax AS DOUBLE)]) AS m
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  ROUND(m['qty'][1], 6) AS qty,
        |  CAST(cardinality(m) AS INTEGER) AS nk,
        |  ROUND(m['qty'][1] + m['disc'][1] + m['tax'][1], 6) AS vsum
        |FROM m ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_scd2_build" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es,
        |    event_type, value FROM events WHERE ts IS NOT NULL)
        |SELECT user_id, event_id, es AS valid_from,
        |  LEAD(es) OVER (PARTITION BY user_id ORDER BY es, event_id) - 1 AS valid_to,
        |  event_type, ROUND(value, 4) AS value
        |FROM ev ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q_grouping_sets" -> GROUPING_SETS_SQL,

    "q_recursive_hierarchy" ->
      """WITH RECURSIVE walk AS (
        |  SELECT c_custkey AS id, c_custkey AS cur, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT id, cur // 10, depth + 1 FROM walk WHERE cur >= 10)
        |SELECT id, CAST(MAX(depth) AS BIGINT) AS depth,
        |  CAST(MIN(CASE WHEN cur < 10 THEN cur END) AS BIGINT) AS root
        |FROM walk GROUP BY id ORDER BY id""".stripMargin,

    "q_unpivot" ->
      """WITH w AS (SELECT l_returnflag AS rf,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 2) AS sum_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE), 4) AS sum_disc
        | FROM lineitem GROUP BY 1)
        |SELECT rf, 'sum_qty' AS measure, sum_qty AS value FROM w
        |UNION ALL SELECT rf, 'sum_price', sum_price FROM w
        |UNION ALL SELECT rf, 'sum_disc', sum_disc FROM w
        |ORDER BY rf, measure""".stripMargin,

    "q_lateral" -> LATERAL_SQL,

    "q_merge_upsert" ->
      """WITH base AS (SELECT c_custkey AS mk,
        |    ROUND(CAST(c_acctbal AS DOUBLE), 2) AS bal FROM customer),
        |ev AS (SELECT event_id, user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es,
        |    event_type, value FROM events),
        |delta AS (SELECT user_id AS mk, event_type, ROUND(value, 4) AS new_bal
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY es DESC, event_id DESC) AS rn FROM ev)
        |  WHERE rn = 1)
        |SELECT mk,
        |  CASE WHEN d.event_type IS NOT NULL THEN d.new_bal ELSE b.bal END AS bal,
        |  CASE WHEN b.mk IS NULL THEN 'inserted'
        |       WHEN d.event_type IS NULL THEN 'kept'
        |       ELSE 'updated' END AS op
        |FROM base b FULL OUTER JOIN delta d USING (mk)
        |WHERE COALESCE(d.event_type <> 'error', TRUE)
        |ORDER BY mk""".stripMargin,

    "q_histogram" ->
      """WITH li AS (SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
        |    AS cents FROM lineitem),
        |mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM li)
        |SELECT (cents - lo) // ((hi - lo) // 20 + 1) AS bucket,
        |  COUNT(*) AS n, MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM li CROSS JOIN mm
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ntile" ->
      """SELECT c_nationkey, q, COUNT(*) AS n,
        |  ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi,
        |  ROUND(AVG(c_acctbal), 4) AS avg_bal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |    NTILE(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS q
        |  FROM customer)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "approx_quantile_rank_error" ->
      """SELECT COUNT(*) AS n, TRUE AS within_bound FROM lineitem""".stripMargin,

    "approx_distinct_error" ->
      """SELECT COUNT(DISTINCT o_custkey) AS exact, TRUE AS within_bound
        |FROM orders""".stripMargin,

    "q_null_semantics" ->
      """SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg,
        |  COUNT(*) AS n_rows,
        |  COUNT(NULLIF(c_mktsegment, 'BUILDING')) AS n_nonnull,
        |  COUNT(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY 1 ORDER BY seg NULLS FIRST""".stripMargin,

    "q_decimal_exact" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_correlation_matrix" ->
      """WITH w AS (SELECT
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS qp,
        |  ROUND(corr(l_quantity, l_discount), 6) AS qd,
        |  ROUND(corr(l_quantity, l_tax), 6) AS qt,
        |  ROUND(corr(l_extendedprice, l_discount), 6) AS pd,
        |  ROUND(corr(l_extendedprice, l_tax), 6) AS pt,
        |  ROUND(corr(l_discount, l_tax), 6) AS dt
        |  FROM lineitem)
        |SELECT 'l_quantity' AS c1, 'l_extendedprice' AS c2, qp AS corr FROM w
        |UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM w
        |UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', pd FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', pt FROM w
        |UNION ALL SELECT 'l_discount', 'l_tax', dt FROM w
        |ORDER BY c1, c2""".stripMargin,

    "value_drift_regression" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(regr_slope(value,
        |    (CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT)
        |      - 1704067200) / 86400.0), 6) AS slope,
        |  ROUND(regr_intercept(value,
        |    (CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT)
        |      - 1704067200) / 86400.0), 6) AS intercept,
        |  ROUND(regr_r2(value,
        |    (CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT)
        |      - 1704067200) / 86400.0), 6) AS r2
        |FROM events WHERE value IS NULL OR isfinite(value)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_delete_cascade" ->
      """WITH del AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_custkey % 20 = 0),
        |delord AS (SELECT o_orderkey AS ok FROM orders
        |  WHERE o_custkey IN (SELECT k FROM del)),
        |delli AS (SELECT l_orderkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT ok FROM delord))
        |SELECT (SELECT COUNT(*) FROM del) AS n_cust_deleted,
        |  (SELECT COUNT(*) FROM delord) AS n_orders_deleted,
        |  (SELECT COUNT(*) FROM delli) AS n_lineitems_deleted,
        |  (SELECT COUNT(*) FROM customer) AS n_cust_total,
        |  (SELECT COUNT(*) FROM orders) AS n_orders_total,
        |  (SELECT COUNT(*) FROM lineitem) AS n_lineitems_total""".stripMargin,

    "anomaly_zscore" ->
      """WITH td AS (SELECT event_type,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) // 86400
        |      AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sd
        |  FROM td GROUP BY 1)
        |SELECT event_type, day, n,
        |  ROUND((n - mu) / NULLIF(sd, 0), 6) AS z
        |FROM td JOIN st USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    "event_funnel" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) AS es,
        |    event_type FROM events),
        |v AS (SELECT user_id, MIN(es) AS tv FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT ev.user_id, MIN(es) AS tc FROM ev JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND es >= tv AND es <= tv + 3600
        |  GROUP BY 1),
        |p AS (SELECT ev.user_id, MIN(es) AS tp FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND es >= tc AND es <= tc + 86400
        |  GROUP BY 1)
        |SELECT CASE WHEN tp IS NOT NULL THEN 3
        |            WHEN tc IS NOT NULL THEN 2
        |            WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS stage_reached,
        |  COUNT(*) AS n_users
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "retention_cohort" ->
      """WITH ed AS (SELECT DISTINCT user_id,
        |    CAST(extract(epoch FROM date_trunc('second', ts)) AS BIGINT) // 86400
        |      AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM ed GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  COUNT(*) AS n_users
        |FROM ed JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_window_distribution" ->
      """SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 2) AS bal,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey), 6) AS pr,
        |  ROUND(CUME_DIST() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey), 6) AS cd
        |FROM customer ORDER BY c_custkey""".stripMargin,
  )
}
