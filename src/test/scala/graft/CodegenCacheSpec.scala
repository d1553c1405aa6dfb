package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Every `GraftSession` sizes Spark's generated-class cache to the catalog
  * (`spark.sql.codegen.cache.maxEntries`). The conf is static and
  * `CodeGenerator` builds its cache once per JVM from the first session,
  * so this spec checks the behaviour, not the conf string: a dashboard's
  * worth of queries run twice compiles its classes in the first cycle and
  * (next to) none in the second. Not quite none: under AQE,
  * `q_ads_user_change` (three independent aggregate branches whose
  * stages finish in varying order) generates a few source variants from
  * run to run, and a cycle can meet one it has not compiled yet: 0–6
  * classes per cycle measured, 0 after its first run with AQE off. With
  * Spark's default of 100 entries the 26 dashboard queries evict every
  * class before its next use and the second cycle recompiles nearly all
  * of them (347 after 377 in the first, measured at sf0.001 with the conf
  * line removed). It also fails when a
  * session built outside `GraftSession` came first and fixed this JVM's
  * cache at 100. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** The `ads_dashboard` query set: the publisher's dashboard calls plus
    * the DWD/DWS store reads. */
  private val dashboard: Seq[String] =
    graft.ads.AdsQueries.queries.keys.toSeq.sorted ++
      Seq("q_dwd_order_wide", "q_dws_sku_order", "q_dws_traffic_window")

  /** Classes Janino compiled per query during one pass over the
    * dashboard (cache misses only: a hit returns the loaded class without
    * compiling). */
  private def cycle(): Map[String, Long] = dashboard.map { name =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(name)(spark, TestSession.sf).queryExecution.toRdd.count()
    GraftSession.releaseCaches(spark)
    name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }.toMap

  test("a second dashboard cycle finds its generated classes cached") {
    assert(dashboard.size === 26)
    val first = cycle().values.sum
    val again = cycle().filter(_._2 > 0)
    val second = again.values.sum
    info(s"generated classes compiled: first cycle $first, second $second " +
      s"$again")
    assert(first > 100, s"first cycle compiled only $first classes")
    assert(second <= 20,
      s"second cycle recompiled $second classes (first $first): the JVM's " +
        s"codegen cache is smaller than the dashboard's working set ($again)")
  }
}
