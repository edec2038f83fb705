package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: the `queries`/`oracleSql` registries
  * must stay aligned — a dangling oracle key silently never runs, and
  * an undocumented no-oracle query weakens the correctness gate to a
  * rows-only check without anyone deciding that. (No Spark session —
  * this is a pure registry check.)
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle key is a declared query (no dangling oracles)") {
    val dangling = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("the no-oracle set is exactly the documented ⚙️ list") {
    // each of these is `N` in the SURVEY §2 legend: seeded iterative
    // k-means (kmeans_train / k_sweep / optimal_k_select),
    // engine-specific sketch hashes (q_agg_approx / heavy_hitters_cms),
    // or a decode DuckDB cannot run (multimodal_phash, PhashSpec-gated).
    // Each no-oracle VALUE surface now has an ORACLED contract sibling:
    // heavy_hitters_cms → cms_error_contract, multimodal_phash →
    // phash_dup_contract, q_agg_approx → approx_distinct_error, and the
    // sweep trio → index_report_roundtrip over the deterministic index
    // recompute. Growing this set is a DECISION, not a drift — update
    // here and in COVERAGE.md together.
    val documented = Set("kmeans_train", "k_sweep", "optimal_k_select",
      "q_agg_approx", "heavy_hitters_cms", "multimodal_phash")
    val actual = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(actual == documented,
      s"undocumented no-oracle keys: ${actual.diff(documented)}; " +
        s"stale documented keys: ${documented.diff(actual)}")
  }

  test("query keys are lowercase snake_case (driver/file-system safe)") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-snake-case keys: $bad")
  }
}
