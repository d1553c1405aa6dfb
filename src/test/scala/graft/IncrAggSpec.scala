package graft

import graft.ops.{Relational, StoreDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-aggregate refresh driven the way production drives it:
  * order rows arrive in micro-batches, each batch's PARTIALS merge into a
  * persistent store (read → merge → overwrite, the foreachBatch analog of
  * a Delta MERGE), and the finalized store must equal the full batch
  * recompute over everything ingested — for ANY batch boundary placement.
  * This is the proof of the merge algebra (`orderPartials` /
  * `mergeOrderPartials` / `finalizeOrderPartials`) under arbitrary
  * slicing and repeated application (the store passes through the merge
  * once per batch). The recompute is the `q_cust_totals` rollup, spelled
  * out below over the same rows. */
case class IncrOrd(o_custkey: Long, o_totalprice: Double,
    o_orderdate: java.sql.Timestamp)

class IncrAggSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  type Ord = IncrOrd

  test("streaming foreachBatch partial-merge refresh equals full recompute") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.orders(spark, TestSession.sf)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .limit(600)
      .as[Ord].collect().toSeq

    val storeDir = java.nio.file.Files.createTempDirectory("incragg").toString
    val store = s"$storeDir/partials"
    val in = MemoryStream[Ord]
    val q = in.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = Relational.orderPartials(batch)
        StoreDirs.fold(spark, store)(
          _.fold(fresh)(Relational.mergeOrderPartials(_, fresh)))
      }
      .start()
    // deliberately uneven batch boundaries, including a 1-row batch and a
    // batch whose keys all already exist in the store
    Seq(rows.slice(0, 7), rows.slice(7, 8), rows.slice(8, 250),
        rows.slice(0, 0) ++ rows.slice(250, 600)).foreach { chunk =>
      if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
    }
    q.stop()

    val streamed = Relational.finalizeOrderPartials(spark.read.parquet(store))
      .orderBy("o_custkey").collect().toSeq
    val direct = rows.toDF()
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_spend"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("last_order_day"))
      .orderBy("o_custkey").collect().toSeq
    assert(streamed == direct)
  }
}
