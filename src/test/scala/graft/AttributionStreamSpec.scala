package graft

import graft.streaming.StatefulOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The streaming attribution face vs an in-JVM replay of the batch
  * semantics (the BM25-formula-replay proof pattern): same total order,
  * same 'direct' fallback, state carried across uneven micro-batches. */
class AttributionStreamSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("streamed first/last-touch emission equals the batch replay under " +
      "uneven slicing, with cross-batch state carries") {
    implicit val sqlCtx = spark.sqlContext
    // the REAL event stream at sf0.001, globally time-ordered (position
    // slicing then preserves each user's order across batches — the
    // operator's documented ordering contract)
    val evs = Tables.events(spark, TestSession.sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("event_type"),
        coalesce(round(col("value") * 100).cast("long"), lit(0L))
          .as("cents"))
      .as[(Long, Long, Long, String, Long)]
      .collect()
      .map(r => TouchEvent(r._1, r._2, r._3, r._4, r._5))
      .sortBy(e => (e.t, e.eventId))

    // in-JVM replay of the batch window semantics
    val expected = evs.groupBy(_.userId).toSeq.flatMap { case (uid, es) =>
      var first: String = null; var last: String = null
      es.sortBy(e => (e.t, e.eventId)).toSeq.flatMap { e =>
        if (e.eventType == "purchase")
          Some(AttributedPurchase(uid, e.t, e.eventId,
            Option(first).getOrElse("direct"),
            Option(last).getOrElse("direct"), e.cents))
        else {
          if (first == null) first = e.eventType
          last = e.eventType
          None
        }
      }
    }.toSet

    // 5 uneven slices; boundaries are arbitrary positions in time order
    val cuts = Seq(evs.length / 7, evs.length / 3, evs.length / 2,
      (evs.length * 4) / 5, evs.length)
    val slices = (Seq(0) ++ cuts).sliding(2).map {
      case Seq(a, b) => evs.slice(a, b).toSeq
    }.toSeq

    val in = MemoryStream[TouchEvent]
    val q = attributionStreamTws(in.toDS()).writeStream
      .format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    slices.foreach { s => in.addData(s); q.processAllAvailable() }
    val got = spark.table("attr_out").as[AttributedPurchase]
      .collect().toSet
    q.stop()

    assert(got === expected)
    // liveness: the cross-batch carry actually fired — some purchase in a
    // later slice was attributed to a touch that arrived in an EARLIER
    // slice (its own slice holds no prior touch for that user)
    val sliceOf = slices.zipWithIndex.flatMap { case (s, i) =>
      s.map(e => (e.userId, e.t, e.eventId) -> i)
    }.toMap
    val carried = got.exists { p =>
      if (p.lastCh == "direct") false
      else {
        val pi = sliceOf((p.userId, p.t, p.eventId))
        !slices(pi).exists(e => e.userId == p.userId &&
          e.eventType != "purchase" &&
          (e.t < p.t || (e.t == p.t && e.eventId < p.eventId)))
      }
    }
    assert(carried,
      "degenerate slicing: every purchase found its touch in its own " +
        "micro-batch — the state carry went unexercised")
    // and the 'direct' fallback is live on this data or the carry check
    // above proved state flow; both branches of the fallback compile to
    // the same batch semantics asserted by the set equality
    assert(expected.nonEmpty)
  }
}
