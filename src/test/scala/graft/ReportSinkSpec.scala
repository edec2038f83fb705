package graft

import graft.engine.cluster.KMeansSweep

/** #15 index_report_sink: per-k results round-trip through the parquet
  * (and CSV parity) sink.
  */
class ReportSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeReport round-trips the sweep table") {
    val sweepDf = Seq(
      (2, 497.3, 0.23, 0.84, 1.77, 100L),
      (3, 482.6, 0.03, 0.29, 6.45, 90L),
    ).toDF("k", "wssse", "bd_silhouette", "bd_dunn", "davies_bouldin", "t_ms")
    val dir = graft.engine.TempDirs.scratch("graft-report")
    KMeansSweep.writeReport(sweepDf, s"$dir/report", alsoCsv = true)
    val back = spark.read.parquet(s"$dir/report").orderBy("k").collect()
    assert(back.length == 2 && back(0).getInt(0) == 2)
    val csv = spark.read.option("header", "true").csv(s"$dir/report_csv")
    assert(csv.count() == 2)
  }

  test("index_report_roundtrip reproduces the direct index recompute") {
    val d = "/root/testdata/sf0.001"
    val back = SparkEntry.queries("index_report_roundtrip")(spark, d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back.keySet ==
      Set("wssse", "bd_silhouette", "bd_dunn", "davies_bouldin"))
    // byte-identical to the values the per-index declared queries emit
    // (same round(·,6) discipline) — a write-path mangle would differ
    for ((k, v) <- back) {
      val direct = SparkEntry.queries(k)(spark, d).collect()(0).getDouble(0)
      assert(v == direct, s"$k: roundtrip $v != direct $direct")
    }
  }
}
