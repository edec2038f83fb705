package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The deferred-contract mechanism (engine/source/DeferredContract
  * .scala; round-9 verdict #4): the two contract queries whose
  * verdicts must come from real executions — `k_sweep_determinism_
  * contract` (two seeded k-means sweeps) and `q_join_skew_aqe` (a join
  * under session-scoped AQE skew confs) — used to run that work
  * eagerly at DataFrame BUILD, so plan-only tools paid sweeps and
  * joins to merely look at them. Now the work runs at the scan's
  * planInputPartitions, i.e. first actual execution.
  *
  * Pins:
  *  1. ZERO Spark jobs while building both frames AND materializing
  *     their physical plans + formatted explains (the plan-only-tool
  *     surface: graft.tools.Plans prints executedPlan) — counted by a
  *     registered SparkListener.
  *  2. Executing the determinism contract yields the oracle-constant
  *     verdict row (the real sweeps ran, deferred, and agreed).
  *  3. The skew contract's captured adaptive plan appears only after
  *     execution — RelProfileSpec pins its skew=true content.
  */
class DeferredContractSpec extends SparkSpec {

  test("building + explaining the contract frames runs zero jobs; executing runs the real work") {
    // Count ONLY jobs launched under this test's job group: the
    // shared listener bus is async and other suites' stray JobStart
    // events could otherwise land inside the snapshot window (a
    // fixed-sleep global count is order- and load-sensitive).
    val group = "deferred-contract-pin"
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "DeferredContractSpec zero-jobs pin")
    try {
      val df1 = SparkEntry.queries("k_sweep_determinism_contract")(spark, sf0001)
      val df2 = SparkEntry.queries("q_join_skew_aqe")(spark, sf0001)
      // the plan-only tool surface: physical planning + formatted text
      df1.queryExecution.executedPlan
      df2.queryExecution.executedPlan
      df1.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      df2.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Thread.sleep(500) // grace for async delivery of any (unexpected) event
      assert(jobs == 0,
        s"plan construction/explain of the deferred contracts ran $jobs job(s)")
      // execution runs the deferred sweeps and must reproduce the
      // oracle-constant verdict
      val r = df1.collect().map(x =>
        (x.getInt(0), x.getInt(1), x.getLong(2), x.getBoolean(3), x.getBoolean(4))).toSeq
      assert(r == Seq((2, 6, 5L, true, true)), s"determinism verdict: $r")
      var waited = 0
      while (jobs == 0 && waited < 5000) { Thread.sleep(100); waited += 100 }
      assert(jobs > 0, "executing the contract must run real Spark jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a missing or unregistered 'contract' option fails with the designed message, not an NPE") {
    // inferSchema runs BEFORE getTable's require, so a null option
    // must be caught there too (CHM.get(null) would throw a bare NPE)
    val noOption = intercept[IllegalArgumentException] {
      spark.read.format(graft.engine.source.DeferredContractSource.FORMAT).load()
    }
    assert(noOption.getMessage.contains("requires 'contract' and 'sfDir'"))
    val unregistered = intercept[IllegalArgumentException] {
      spark.read.format(graft.engine.source.DeferredContractSource.FORMAT)
        .option("contract", "no_such_contract").option("sfDir", sf0001).load()
    }
    assert(unregistered.getMessage.contains("unregistered deferred contract"))
  }

  test("the skew contract output matches the eager form's shape and the plan captures at execution") {
    val df = SparkEntry.queries("q_join_skew_aqe")(spark, sf0001)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("source" -> "string", "n_docs" -> "bigint",
        "avg_lang_docs" -> "double", "chars" -> "bigint"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted,
      "q_join_skew_aqe must stay ordered by source")
    // the captured final adaptive plan exists once executed (content
    // pinned in RelProfileSpec)
    assert(graft.engine.rel.RelQueries.lastSkewJoinPlan(spark).nonEmpty)
  }
}
