package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-code cache must hold graft's plan working set:
  * a repeated query mix reuses its compiled classes instead of
  * recompiling them on every pass (GraftSession.tune sizes the cache).
  */
class CodegenCacheSpec extends SparkSpecBase {

  /** The TPC-H-style scan/join/aggregate/sort mix of perfbench's
    * analytics_read workload.
    */
  private val Mix = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q9_product_profit", "q18_large_volume_orders",
    "q21_waiting_suppliers", "q_window_top_parts_per_supplier",
    "q_salted_join_revenue", "q_cube_status_priority", "q_asof_event_order",
    "q1_sql", "src_catalog_sql_scan", "src_v2_agg_pushdown")

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compilations
    Mix.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).collect()
      GraftSession.releaseGrains()
      spark.sharedState.cacheManager.clearCache()
    }
    compilations - c0
  }

  test("a warm pass of the analytics mix reuses its generated classes") {
    val cold = pass()
    val warm = pass()
    assert(warm <= 10,
      s"the warm pass recompiled $warm classes (cold pass: $cold): the " +
        "generated-code cache evicts the mix's classes before reuse")
  }
}
