package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry split the bench contract depends on: `productionQueries`
  * is what a user (and Bench) runs — no canonicalization — while `queries`
  * adds exactly one deterministic global sort for the driver's DuckDB
  * row-hash compare. A global Sort on every query would be a full
  * range-partitioned shuffle of the result at 100 TB, paid for pure test
  * determinism; production plans must not carry it.
  */
class ProductionRegistrySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A PHYSICAL global SortExec — the range-partitioned full sort the
    * canonicalization orderBy pays. Checked on the physical plan because
    * a logical Sort under a Limit (e.g. IVF's ordered centroid selection)
    * plans as a bounded TakeOrderedAndProject, not a sort — and window /
    * SMJ sorts are per-partition (global=false). */
  private def hasGlobalSort(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.nonEmpty

  test("registries are key-identical and bench excludes only the baselines") {
    assert(SparkEntry.productionQueries.keySet == SparkEntry.queries.keySet)
    // bench = production − baselines + the bench-only phase rows (each a
    // re-timed phase of an oracle-gated query, never new semantics)
    assert(SparkEntry.benchQueries.keySet ==
      (SparkEntry.productionQueries.keySet -- SparkEntry.baselineOnly) +
        "pipeline_curated" ++ SparkEntry.benchOnly.keySet)
    assert((SparkEntry.benchOnly.keySet
      intersect SparkEntry.productionQueries.keySet).isEmpty)
  }

  test("only the three by-design rows override the gated form") {
    // every other row registers ONE form: the one Bench times is the one
    // the DuckDB gate checks (OracleGateSpec). A new production twin must
    // edit this set — and say why the gated form cannot be the timed one
    assert(SparkEntry.productionOverrides.keySet == Set(
      "events_value_quantiles", "text_inverted_index", "text_winnow_matches"))
  }

  test("production plans carry no global Sort; oracle forms carry exactly one on top") {
    // representative spread: plain agg, join, LSH pipeline, window agg,
    // as-of join, range join, ranked top-k, IVF ANN
    for (name <- Seq("q6_stock_by_product", "ch5_q3_movie_review_join",
                     "dedup_minhash_lsh", "events_hourly_agg",
                     "events_asof_join", "events_range_join",
                     "text_top_quality_by_lang", "sim_ann_ivf")) {
      val prod = SparkEntry.productionQueries(name)(spark, TestSpark.sfDir)
      val oracle = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      assert(!hasGlobalSort(prod), s"$name production plan has a global Sort:\n" +
        prod.queryExecution.optimizedPlan.toString)
      assert(hasGlobalSort(oracle), s"$name oracle form lost its canonical Sort")
    }
  }

  test("production and oracle forms return the same rows (ordering aside)") {
    val name = "q6_stock_by_product"
    val prod = SparkEntry.productionQueries(name)(spark, TestSpark.sfDir)
      .collect().toSet
    val oracle = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .collect().toSet
    assert(prod == oracle)
  }
}
