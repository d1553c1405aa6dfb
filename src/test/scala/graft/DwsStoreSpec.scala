package graft

import graft.ops.DwsStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class DwsEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** The DWS serving path: the dashboard queries that moved onto
  * [[DwsStore]] read nothing but its tables, and the streaming refresh of
  * the traffic tables lands on the batch build whatever the batching. */
class DwsStoreSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark

  /** The dashboard queries served from the DWS store. */
  private val served = Seq(
    "q_ads_channel_stats", "q_ads_visitor_hour", "q_ads_uv_page",
    "q_ads_user_change", "q_ads_user_back", "q_ads_user_retention",
    "q_ads_visitor_type", "q_ads_trade_stats", "q_ads_province_order",
    "q_ads_user_trade", "q_ads_trademark_stats", "q_ads_category_stats",
    "q_ads_trademark_pie", "q_ads_trademark_top", "q_ads_spu_category",
    "q_ads_tm_cat_user")

  test("every DWS-served dashboard query scans the dws store and no " +
      "ODS fact file") {
    // the physical plan as planned, not run: every scan is in it already,
    // and running it would leave its generated classes in this JVM's
    // cache, which CodegenCacheSpec expects the dashboard to fill itself
    served.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, TestSession.sf).queryExecution
      val roots = collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanExec => f.relation.location.rootPaths
      }.flatten
      assert(roots.nonEmpty, s"$name scans no file")
      roots.foreach { p =>
        assert(p.getParent.getName.startsWith("dws_"),
          s"$name scans $p, outside the dws store")
        assert(!Seq("events", "orders", "lineitem")
          .exists(t => p.getName == s"$t.parquet"), s"$name scans $p")
      }
    }
  }

  test("traffic tables folded from uneven event micro-batches equal the " +
      "batch build") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, TestSession.sf).as[DwsEvent]
      .collect().toSeq
    val base = java.nio.file.Files.createTempDirectory("dwsfold").toString
    val in = MemoryStream[DwsEvent]
    val q = in.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        DwsStore.refresh(spark, base, batch) }
      .start()
    // a 1-row batch, a small one, and two large ones whose users and days
    // already sit in the tables
    Seq(0, 1, 9, 400, events.size).sliding(2).foreach { case Seq(a, b) =>
      in.addData(events.slice(a, b)); q.processAllAvailable()
    }
    q.stop()

    Seq[(String, (SparkSession, String) => DataFrame)](
      "traffic_type" -> DwsStore.byTypeUser,
      "traffic_hour" -> DwsStore.byHourUser,
      "traffic_day" -> DwsStore.byUserDay).foreach { case (table, built) =>
      val folded = Tables.read(spark, s"$base/$table")
      val batch = built(spark, TestSession.sf)
      assert(folded.schema === batch.schema, table)
      assert(folded.count() === batch.count(), table)
      assert(folded.exceptAll(batch).isEmpty && batch.exceptAll(folded).isEmpty,
        s"$table: folded rows differ from the batch build")
    }
  }
}
