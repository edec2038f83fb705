package graft

/** The ScanAudit double-compute detector as a COMMITTED GATE (round-8
  * verdict #4): a shared subtree that feeds k consumers without an
  * eager checkpoint shows up as k parquet scans of the same table in
  * one query's final plan — invisible at sf0.1, a k× read of 100 TB
  * in production (the bigram_logppl 5× / simhash_dedup 3× pattern
  * fixed in round 8). This spec EXECUTES every declared query at
  * sf0.001 and counts parquet scans in the FINAL adaptive plan — the
  * initial plan overcounts, because AQE's exchange reuse collapses
  * duplicate scans only at execution (ann_nprobe_sweep: 4 initial →
  * 1 final), so the executed count is the truthful bytes-read metric.
  * It fails when a query's scan count exceeds its recorded allowance.
  *
  * The allowance list is every query whose plan LEGITIMATELY reads
  * ≥ 2 files — multi-table joins read each table once; self-joins,
  * set ops and pushed-filter branches read one table once per
  * declared logical read. An unlisted query gets allowance 1. A
  * future consumer re-introducing a double scan (or a new query
  * shipping one) fails here with the offending count.
  */
class ScanAuditSpec extends SparkSpec {

  /** query -> allowed "Scan parquet" count in the physical plan.
    * Groupings carry the justification. */
  private val allowance: Map[String, Int] = Map(
    // multi-TABLE joins: one scan per distinct table
    "q_join_5way" -> 6,        // lineitem+orders+customer+supplier+nation+region
    "q_agg_cube" -> 3,         // orders+customer+nation
    "q_agg_rollup" -> 3,       // orders+customer+nation
    "q_udaf_gini" -> 3,        // orders+customer+nation
    "q_subquery" -> 4,         // lineitem×2 declared subquery reads + part + orders
    "q_delete_cascade" -> 5,   // customer del-set + customer + orders + lineitem (+ semi branch)
    // SELF-joins / set ops / pushed-filter branches / two-pass
    // analytics (a stats or profile branch + the apply pass over the
    // same table): one table, k declared logical reads
    "event_funnel" -> 4,       // events, one pushed-filter branch per funnel step
    "q_union" -> 2, "q_intersect" -> 2, "q_except" -> 2,
    "q_join_range" -> 2, "q_range_join_binned" -> 2, // events self-join
    "q_join_anti" -> 2, "q_join_semi" -> 2, "q_join_outer" -> 2,
    "q_join_salted" -> 2,      // lineitem + part
    "q_join_bloom_prefilter" -> 2, // orders (bloom build) + lineitem probe
    "q_merge_upsert" -> 2, "q_lateral" -> 2, "q_histogram" -> 2,
    "approx_quantile_rank_error" -> 2, // percentile agg branch + rank pass
    "anomaly_zscore" -> 2,     // per-key stats branch + score pass
    "minhash_recall" -> 2,     // sample-flag attach (exchange reuse may drop to 1)
    "psi_drift" -> 2,          // reference-window branch + current pass
    "dedup_source_matrix" -> 2, "dedup_lang_matrix" -> 2, // pair surface + dim attach
    "vocab_coverage_curve" -> 2, // vocab build + coverage pass
    "ann_filtered_topk" -> 3,  // query sample + postings + rescore attach
    "semdedup_embedding" -> 4, // cell ranking + id pairs + two vector attaches
    "source_vocab_jaccard" -> 4, // per-source vocab branches
    "q_timeseries_fill" -> 2,  // events grid side + hourly side
    "q_cogroup_reconcile" -> 2, // orders + events
    "retention_cohort" -> 2,   // events cohort side + activity side
    "corpus_mix" -> 2, "domain_token_cap" -> 2, "lang_id" -> 2,
    "tf_idf_top_terms" -> 2,   // tf explode pass + the dn scalar count
                               // (round 16: the query-local token
                               // checkpoint is gone — tf aggregates
                               // straight off the explode, df reads
                               // the shared distinct-tokens memo)
    "vocab_coverage" -> 2,     // vocab build + coverage pass (declared)
    "external_validity_chi2" -> 2,
    "zorder_layout_audit" -> 2, // linear + zorder layout branches
    "bucketed_join_roundtrip" -> 2, // the two written bucketed tables
    // embeddings: corpus + broadcast-attached scalar/dim branch
    "cosine_topk" -> 2, "embedding_cosine_dedup" -> 2,
    "embedding_project" -> 2, "embedding_standardize" -> 2,
    "incremental_ann_upsert" -> 2, "label_centroid_topk" -> 2,
    "lsh_tables_sweep" -> 2,
    "minhash_recall_b1r8" -> 2, // b=1 banding + sample-flag attach
    "dedup_edit_distance" -> 2, // pair surface + text attach
    "phash_dup_contract" -> 2,
  )

  test("no declared query re-scans a table beyond its recorded allowance") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (k, f) =>
      val df = f(spark, sf0001)
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).size
      val allowed = allowance.getOrElse(k, 1)
      if (scans > allowed) Some(s"$k: $scans scans (allowed $allowed)") else None
    }
    assert(offenders.isEmpty,
      s"double-compute regressions:\n  ${offenders.mkString("\n  ")}")
  }
}
