package graft

import graft.ops.{Relational, StoreDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The drift monitor's streaming face, driven the way production drives
  * it: the monitor pins its bucket edges and reference/current boundary
  * from the training snapshot, serving events arrive in micro-batches,
  * and each batch's bucket counts — purely ADDITIVE against the fixed
  * edges — merge into a persistent store (read → merge → overwrite).
  * Because the spec streams exactly the rows whose extent was pinned,
  * the finalized store must equal the GATED batch query `q_dist_drift`
  * bit-for-bit: the stream-maintained ledger and the oracle-checked
  * batch ledger are the same arithmetic, proven under arbitrary batch
  * boundaries including a 1-row batch and an empty slice. */
case class DriftEvt(event_type: String, value: Double, sec: Long)

class DriftStreamSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("foreachBatch-maintained drift store equals the gated batch query") {
    implicit val sqlCtx = spark.sqlContext
    val src = Tables.events(spark, TestSession.sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("sec"))
    val rows = src.as[DriftEvt].collect().toSeq
    // the pinned reference frame: time + value extents of the snapshot
    val ext = src.agg(min(col("sec")), max(col("sec")),
      min(col("value")), max(col("value"))).head()
    val (t0, t1) = (ext.getLong(0), ext.getLong(1))
    val (vmin, vmax) = (ext.getDouble(2), ext.getDouble(3))

    val storeDir = java.nio.file.Files.createTempDirectory("drift").toString
    val store = s"$storeDir/partials"
    val in = MemoryStream[DriftEvt]
    val q = in.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = Relational.driftPartials(batch, t0, t1, vmin, vmax)
        StoreDirs.fold(spark, store)(
          _.fold(fresh)(Relational.mergeDriftPartials(_, fresh)))
      }
      .start()
    val n = rows.size
    // uneven boundaries: big, 1-row, empty, remainder
    Seq(rows.slice(0, n / 3), rows.slice(n / 3, n / 3 + 1),
        rows.slice(0, 0), rows.slice(n / 3 + 1, n)).foreach { chunk =>
      if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
    }
    q.stop()

    val streamed = Relational
      .finalizeDriftPartials(spark.read.parquet(store))
      .orderBy("event_type", "bucket").collect().toSeq
    val batchQuery = Relational.distDrift(spark, TestSession.sf)
      .orderBy("event_type", "bucket").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batchQuery)
  }
}
