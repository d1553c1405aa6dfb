package graft

import graft.functions.Aggregators
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the mergeable Misra–Gries sketch, driven directly
  * through the Aggregator's reduce/merge over random streams split into
  * random partitions — i.e. every executor/combine topology Spark could
  * choose. The claims under test are the ones `q_heavy_hitters`' bracket
  * oracle leans on:
  *   1. the summary never exceeds k entries (the O(k)-state scale claim);
  *   2. no false negatives: every item with true count > n/k is present;
  *   3. estimates never overcount and undercount by at most n/k.
  * Streams are Zipf-ish (planted hot items over a uniform tail) so both
  * sides of the n/k boundary are populated. */
class HeavyHitterSpec extends AnyFunSuite {

  private def runSketch(stream: Seq[String], k: Int,
      rnd: scala.util.Random): Map[String, Long] = {
    val mg = Aggregators.misraGries(k)
    // random partitioning: fold each partition, then merge in random order
    val nParts = 1 + rnd.nextInt(8)
    val parts = stream.groupBy(_ => rnd.nextInt(nParts)).values.toSeq
    val buffers = rnd.shuffle(parts.map(_.foldLeft(mg.zero)(mg.reduce)))
    buffers.foldLeft(mg.zero)(mg.merge)
  }

  test("MG: bounded size, no false negatives above n/k, estimates within bound") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 20) {
      val k = 4 + rnd.nextInt(12)
      // uniform tail over 50 items + planted hot items of varying mass
      val tail = (1 to 500).map(_ => s"t${rnd.nextInt(50)}")
      val hot = (1 to (1 + rnd.nextInt(3))).flatMap(h =>
        Seq.fill(100 + rnd.nextInt(400))(s"hot$h"))
      val stream = rnd.shuffle(tail ++ hot)
      val n = stream.size.toLong
      val exact = stream.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      val summary = runSketch(stream, k, rnd)

      assert(summary.size <= k, s"trial $trial: summary exceeded k=$k")
      for ((t, ct) <- exact if ct * k > n)
        assert(summary.contains(t),
          s"trial $trial: lost heavy hitter $t (ct=$ct, n=$n, k=$k)")
      for ((t, est) <- summary) {
        val ct = exact(t)
        assert(est <= ct, s"trial $trial: $t overcounted ($est > $ct)")
        assert(est >= ct - n / k,
          s"trial $trial: $t undercounted past n/k ($est < $ct - ${n / k})")
      }
    }
  }

  test("streaming MG state holds the order-free guarantees at every " +
      "micro-batch boundary, per key") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.KeyedToken
    val spark = TestSession.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val k = 8
    // two keys with different hot sets, interleaved
    val stream = rnd.shuffle(
      (1 to 400).map(_ => KeyedToken("a", s"t${rnd.nextInt(40)}")) ++
      (1 to 300).map(_ => KeyedToken("a", "hotA")) ++
      (1 to 350).map(_ => KeyedToken("b", s"u${rnd.nextInt(40)}")) ++
      (1 to 250).map(_ => KeyedToken("b", "hotB")))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[KeyedToken]
    var latest = Map.empty[String, Map[String, Long]]
    var fed = Vector.empty[KeyedToken]
    val q = StatefulOps.heavyHittersStreamTws(in.toDS(), k).toDF()
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val touched = rows.map(_._1).toSet
        latest = latest -- touched
        rows.groupBy(_._1).foreach { case (key, g) =>
          latest += key -> g.map(r => r._2 -> r._3).toMap
        }
      }
      .start()
    // uneven slicing incl. a tiny batch
    Seq(stream.slice(0, 13), stream.slice(13, 500),
        stream.slice(500, 501), stream.slice(501, stream.length))
      .foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
        fed = fed ++ chunk
        for ((key, summary) <- latest) {
          val mine = fed.filter(_.key == key)
          val n = mine.size.toLong
          val exact = mine.groupBy(_.token)
            .map { case (t, v) => t -> v.size.toLong }
          assert(summary.size <= k, s"$key: state exceeded k")
          for ((t, ct) <- exact if ct * k > n)
            assert(summary.contains(t), s"$key lost heavy hitter $t")
          for ((t, est) <- summary) {
            assert(est <= exact(t), s"$key/$t overcounted")
            assert(est >= exact(t) - n / k, s"$key/$t undercounted past n/k")
          }
        }
      }
    q.stop()
    assert(latest.keySet === Set("a", "b"))
    assert(latest("a").contains("hotA") && latest("b").contains("hotB"))
  }

  test("heavyHittersStreamTws emits, per micro-batch, each touched key's " +
      "Misra–Gries buffer folded over its whole prefix") {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.KeyedToken
    val spark = TestSession.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val k = 6
    val stream = rnd.shuffle(
      (1 to 250).map(_ => KeyedToken("a", s"t${rnd.nextInt(25)}")) ++
      (1 to 180).map(_ => KeyedToken("a", "hotA")) ++
      (1 to 200).map(_ => KeyedToken("b", s"u${rnd.nextInt(25)}")))
    val slices = Seq(stream.slice(0, 7), stream.slice(7, 300),
      stream.slice(300, 301), stream.slice(301, stream.length))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[KeyedToken]
    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, String, Long)]]
    val q = StatefulOps.heavyHittersStreamTws(in.toDS(), k).toDF()
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        perBatch += batch.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        ()
      }.start()
    slices.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // oracle: the same Aggregator folded in arrival order; a batch emits
    // the full buffer of every key it touched (update-mode changelog)
    val mg = Aggregators.misraGries(k)
    var bufs = Map.empty[String, Map[String, Long]]
    val expected = slices.map { c =>
      c.foreach(t => bufs += t.key ->
        mg.reduce(bufs.getOrElse(t.key, mg.zero), t.token))
      c.map(_.key).distinct.flatMap(key =>
        bufs(key).map { case (t, n) => (key, t, n) }).toSet
    }
    // no-data batches emit nothing; data batches align 1:1 with `slices`
    val got = perBatch.toSeq.filter(_.nonEmpty)
    assert(got.size === expected.size)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g === e, s"batch $i diverged")
    }
    // liveness: the sketch really tracked the hot token
    assert(got.last.exists(r => r._1 == "a" && r._2 == "hotA"))
  }
}
