package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Pins the ENGINE's late-row boundary that the event-time stateful
  * operators' finalization logic depends on, measured rather than
  * assumed: in `transformWithState` EventTime mode the pre-filter drops
  * rows with eventTime <= watermark (INCLUSIVE — a row exactly AT the
  * watermark never reaches the processor).
  *
  * Consequence for `StatefulOps.asofBufferedTws`: no event with t equal to
  * the current watermark-second can arrive after that second is current,
  * so its ripe/hold partition finalizes the boundary second too
  * (inclusive `t <= wmSec`). That is required for liveness, not slack: a
  * strict `<` would hold boundary-second events, and a stream that
  * quiesces with the watermark exactly at a held event's second would
  * never emit them. `keepLatestTws`, `bounceDetectorTws` and
  * `sessionizeTws` run in the same mode and drop the same rows. If a Spark
  * upgrade ever moves the boundary, this spec fails first and points at
  * the dependent logic. */
class WatermarkBoundarySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("transformWithState EventTime mode: measure the late-row " +
      "pre-filter boundary (the fMGWS-EventTimeTimeout analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoder, Encoders}
    class EchoProcessor
        extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp),
          (Long, Long)] {
      @transient private var touched:
        org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        touched = getHandle.getValueState[Long]("touched",
          Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(k: Long,
          rows: Iterator[(Long, Long, java.sql.Timestamp)],
          tv: TimerValues): Iterator[(Long, Long)] =
        rows.map(e => (k, e._2))
    }
    implicit val outEnc: Encoder[(Long, Long)] =
      Encoders.product[(Long, Long)]
    val in = MemoryStream[(Long, Long)]
    val ds = in.toDS().toDF("u", "t")
      .withColumn("eventTime", timestamp_seconds(col("t")))
      .withWatermark("eventTime", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val echoed = ds.groupByKey(_._1)
      .transformWithState(new EchoProcessor,
        TimeMode.EventTime(), OutputMode.Append())
    val q = echoed.writeStream.format("memory").queryName("wmb_tws")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, 10L)); q.processAllAvailable() // watermark -> 10 s
    in.addData((2L, 10L)); q.processAllAvailable() // row == watermark
    in.addData((3L, 9L));  q.processAllAvailable() // row <  watermark
    q.stop()
    val got = spark.table("wmb_tws").as[(Long, Long)].collect().toSet
    // MEASURED boundary — pinned so any operator built on tws EventTime
    // mode can rely on it (and a Spark upgrade that moves it fails here
    // first)
    assert(got === Set((1L, 10L)),
      s"tws EventTime late-row boundary moved: $got")
  }

  test("dropDuplicatesWithinWatermark: same-batch and in-window " +
      "re-delivery suppressed; a key RESURFACES once its state is " +
      "evicted past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (id, t seconds)
    val ds = in.toDS().toDF("id", "t")
      .withColumn("eventTime", timestamp_seconds(col("t")))
      .withWatermark("eventTime", "5 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = ds.writeStream.format("memory").queryName("wmb_ddww")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, 10L), (1L, 10L)); q.processAllAvailable() // batch dup
    in.addData((1L, 12L)); q.processAllAvailable() // within 5 s window
    in.addData((2L, 30L)); q.processAllAvailable() // watermark → 25 s
    in.addData((1L, 31L)); q.processAllAvailable() // state long evicted
    q.stop()
    val got = spark.table("wmb_ddww").select(col("id"), col("t"))
      .as[(Long, Long)].collect().toSet
    // first occurrence emitted; both re-deliveries inside the window
    // suppressed; the post-eviction redelivery is a NEW row — the
    // documented contract: dedup is exact only WITHIN the watermark
    // window, so upstream must bound duplicate lag by the delay (the
    // repo's content-keyed StatefulOps.ingestDedupTws holds state forever
    // on RocksDB instead — that is the cross-window-exact tool)
    assert(got === Set((1L, 10L), (2L, 30L), (1L, 31L)))
  }
}
