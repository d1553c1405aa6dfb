package graft

import graft.ops.Relational
import graft.streaming.StatefulOps.{AsofMatch, TaggedEvent, asofAttributionTws, asofBufferedTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Tie/edge semantics of the as-of join (last view at-or-before each buy):
  * inclusive same-second match, carry-forward across multiple buys,
  * no-prior-view rows dropped (inner asof), per-user isolation. */
class AsofSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("asof matches latest view at-or-before each buy") {
    import spark.implicits._
    // user 1: views at t=10,20; buys at t=20 (same-second → inclusive),
    //         t=25 (matches 20), t=5 (no prior view → dropped)
    // user 2: view at t=100; user 1's views must not leak to user 2
    val views = Seq((1L, 10L), (1L, 20L), (2L, 100L)).toDF("user_id", "t")
    val buys = Seq((1L, 20L, 901L), (1L, 25L, 902L), (1L, 5L, 903L),
      (2L, 99L, 904L), (2L, 100L, 905L)).toDF("user_id", "t", "event_id")
    val got = Relational.asofLastTouch(views, buys)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got === Map(901L -> 0L, 902L -> 5L, 905L -> 0L))
  }

  test("streaming asofAttribution equals the batch as-of join on sf0.001") {
    import spark.implicits._
    val expected = Relational.asofJoin(spark, TestSession.sf)
      .collect().map(r => AsofMatch(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet

    val ev = Tables.events(spark, TestSession.sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        coalesce(col("event_id"), lit(-1L)).as("event_id"))
      .collect()
      .map(r => TaggedEvent(r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(e => (e.t, e.side)) // arrival in event-time order (op contract)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TaggedEvent]
    val q = asofAttributionTws(in.toDS()).writeStream
      .format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    ev.grouped(math.max(1, ev.length / 3)).foreach { chunk =>
      in.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    val got = spark.table("asof_stream").as[AsofMatch].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("asofAttributionTws carries the latest view across batches: " +
      "same-second tie, cross-batch carry, buy before any view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TaggedEvent]
    val q = asofAttributionTws(in.toDS()).writeStream
      .format("memory").queryName("asof_tws").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(TaggedEvent(1, 100, 0, 10), TaggedEvent(2, 90, 1, 20), // no view yet
        TaggedEvent(1, 100, 1, 11)), // same-second tie: view wins (gap 0)
      Seq(TaggedEvent(1, 200, 1, 12), // cross-batch carry: gap 100
        TaggedEvent(2, 150, 0, 21)),
      Seq(TaggedEvent(2, 180, 1, 22), TaggedEvent(1, 300, 0, 13),
        TaggedEvent(1, 310, 1, 14)))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val got = spark.table("asof_tws").as[AsofMatch].collect()
      .sortBy(m => (m.userId, m.buyS, m.eventId)).toSeq
    q.stop()
    assert(got === Seq(AsofMatch(11, 1, 100, 0), AsofMatch(12, 1, 200, 100),
      AsofMatch(14, 1, 310, 10), AsofMatch(22, 2, 180, 30)))
  }

  private def bufferedStream(name: String, delay: String)(implicit
      sqlCtx: org.apache.spark.sql.SQLContext) = {
    import sqlCtx.sparkSession.implicits._
    val in = MemoryStream[TaggedEvent]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_seconds(col("t")))
      .withWatermark("eventTime", delay)
      .as[TaggedEvent]
    val q = asofBufferedTws(withWm).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    (in, q)
  }

  test("asofBuffered attributes a view that arrives AFTER a later buy") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 60 s disorder budget: the t=50 view arriving after the t=100 buy is
    // within-watermark disorder, not late data
    val (in, q) = bufferedStream("asof_ooo", "60 seconds")
    in.addData(TaggedEvent(1L, 100L, 1, 901L)) // buy first — held (wm=0)
    q.processAllAvailable()
    assert(spark.table("asof_ooo").isEmpty)
    in.addData(TaggedEvent(1L, 50L, 0, -1L)) // the view arrives late
    q.processAllAvailable()
    in.addData(TaggedEvent(2L, 10000L, 0, -1L)) // push watermark far past
    q.processAllAvailable()
    val got = spark.table("asof_ooo").as[AsofMatch].collect().toSet
    q.stop()
    assert(got === Set(AsofMatch(901L, 1L, 100L, 50L)))
  }

  test("asofBuffered equals the batch as-of join under shuffled chunks") {
    import spark.implicits._
    val expected = Relational.asofJoin(spark, TestSession.sf)
      .collect().map(r => AsofMatch(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet

    val ev = Tables.events(spark, TestSession.sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        coalesce(col("event_id"), lit(-1L)).as("event_id"))
      .collect()
      .map(r => TaggedEvent(r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(_.t)

    implicit val sqlCtx = spark.sqlContext
    val (in, q) = bufferedStream("asof_buf", "60 seconds")
    // time-ordered chunks, each internally REVERSED: arbitrary disorder
    // inside the watermark bound, monotone across chunks
    ev.grouped(math.max(1, ev.length / 5)).foreach { chunk =>
      in.addData(chunk.reverse.toIndexedSeq)
      q.processAllAvailable()
    }
    in.addData(TaggedEvent(99999L, ev.last.t + 100000L, 0, -1L)) // drain
    q.processAllAvailable()
    val got = spark.table("asof_buf").as[AsofMatch].collect().toSet
    q.stop()
    assert(got === expected)
  }

  test("asofBufferedTws drains held events by timer and watermark under " +
      "cross-batch disorder, incl. the view-after-buy case") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // disorder within a 60 s watermark budget: buy before its view,
    // cross-batch carries, a quiescent key drained only by timer/WM push
    val (in, q) = bufferedStream("asof_buf_tws", "60 seconds")
    Seq(
      Seq(TaggedEvent(1L, 100L, 1, 901L), TaggedEvent(2L, 80L, 0, -1L)),
      Seq(TaggedEvent(1L, 50L, 0, -1L),   // late view beats the held buy
        TaggedEvent(2L, 90L, 1, 902L)),
      Seq(TaggedEvent(1L, 160L, 1, 903L), TaggedEvent(1L, 150L, 0, -1L)),
      Seq(TaggedEvent(9L, 10000L, 0, -1L))) // push watermark far past all
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val got = spark.table("asof_buf_tws").as[AsofMatch].collect().toSet
    q.stop()
    assert(got === Set(AsofMatch(901L, 1L, 100L, 50L),
      AsofMatch(902L, 2L, 90L, 10L), AsofMatch(903L, 1L, 160L, 10L)))
  }
}
