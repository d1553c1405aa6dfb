package warebench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{CdcOps, DwsWindows, LogSplitter, StatefulOps}
import graft.streaming.StatefulOps.{PageView, VersionedRow}

/** `stream_topology`: the reference's two topics as streaming queries in
  * one session, built from the product's public functions.
  *
  *  - log path: text files → `LogSplitter.parse`/`pageStream` →
  *    `StatefulOps.visitorRepairTws` → DWD page sink (`dwd_page`), and
  *    from that sink → `DwsWindows.tumblingAgg` (10 s windows, 2 s
  *    watermark) → DWS page sink (`dws_page_window`);
  *  - DB path: Maxwell envelopes → `CdcOps.decode`/`tableStream` →
  *    `StatefulOps.keepLatestTws` → DWS sku sink (`dws_sku`).
  *
  * A run primes the queries with the first backlog files and drains the
  * next part of the pre-generated backlog (set-up), then offers an open
  * loop at a fixed rate whose generator keeps its schedule however slow
  * the stream is (`latency_*`: event creation time → commit of the
  * micro-batch that writes its DWD row; a file collects the events
  * created during the tick before it is due), then drains the rest of the
  * backlog in three equal parts, one after the other, each written at
  * once (`pass_s`, the median), then stops, writes more input while down,
  * restarts from the checkpoints and waits for every window and
  * keep-latest row to emit. The sinks must then equal a batch replay of
  * the same lines through the same functions. */
object StreamWorkload {
  import StreamGen._

  val PrimeFiles = FilesPerTrigger
  /** Backlog drains: one warm-up drain in set-up, then three measured. */
  val Drains = 4
  val WarmFiles = 2 * FilesPerTrigger
  val DrainFiles = 3 * FilesPerTrigger
  val BacklogLogEvents = 200
  val BacklogDbRows = 50
  val DownFiles = 1
  val TickMs = 4000L
  val FlushDelayMs = 60000L
  val DeadlineMs = 60000L

  /** Every input file of one run, cut up front from the seed in the order
    * the stream takes them, so event time only moves forward: the priming
    * files and the warm-up drain, the open loop, the measured drains, and
    * the files written while the queries are down. */
  final class Plan(seed: Long, li: IndexedSeq[(Long, Int, Long, Double)],
      ticks: Int, rate: Int) {
    private val gen = new StreamGen(seed, li)
    private val perTickLog = math.max(1, (rate * 0.8 * TickMs / 1000).round.toInt)
    private val perTickDb = math.max(1, (rate * 0.2 * TickMs / 1000).round.toInt)
    private def cut(n: Int, log: Int, db: Int) =
      Vector.fill(n)((gen.logFile(log), gen.dbFile(db)))
    private val warm = cut(PrimeFiles + WarmFiles, BacklogLogEvents, BacklogDbRows)
    val openFiles: Vector[(GenFile, GenFile)] = cut(ticks, perTickLog, perTickDb)
    private val measured = cut((Drains - 1) * DrainFiles, BacklogLogEvents, BacklogDbRows)
    val downFiles: Vector[(GenFile, GenFile)] = cut(DownFiles, BacklogLogEvents, BacklogDbRows)
    val lateKeys: Set[(String, Long)] = gen.lateKeys.toSet
    /** The backlog: the priming files, then drains 0 to 3. */
    val backlogFiles: Vector[(GenFile, GenFile)] = warm ++ measured
    def all: Vector[(GenFile, GenFile)] = warm ++ openFiles ++ measured ++ downFiles
    /** Backlog index of the first file of drain `k` (from 0), and its lines. */
    def drainFirst(k: Int): Int =
      if (k == 0) PrimeFiles else PrimeFiles + WarmFiles + (k - 1) * DrainFiles
    def drainRows(k: Int): Long = backlogFiles.slice(drainFirst(k), drainFirst(k + 1))
      .map(f => f._1.lines.size + f._2.lines.size).sum.toLong

    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      all.foreach { case (l, d) => md.update(l.bytes); md.update(d.bytes) }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The three running queries over one directory tree, with what the
    * benchmark reads from outside: lines offered, DWD rows written, the
    * event keys of each DWD micro-batch, sink write times, and every
    * progress. The DWS sinks write one directory per batch id, replacing
    * it on a retry, so a batch re-run after a restart (`foreachBatch` is
    * at-least-once) does not duplicate rows. The DWD sink is appended to
    * and read downstream; it is only ever stopped while idle. */
  final class Topology(spark: SparkSession, root: File) {
    import spark.implicits._
    val odsLog = new File(root, "ods_log")
    val odsDb = new File(root, "ods_db")
    private val staging = new File(root, "staging")
    val dwdDir = new File(root, "dwd_page")
    val dwsDir = new File(root, "dws_page_window")
    val skuDir = new File(root, "dws_sku")
    Seq(odsLog, odsDb, staging, dwdDir).foreach(_.mkdirs())

    val logLines = new AtomicLong
    val dbLines = new AtomicLong
    val dwdRows = new AtomicLong
    val dwdBatchKeys = new ConcurrentHashMap[Long, Array[(String, Long)]]()
    val sinkWrites = new ConcurrentLinkedQueue[(String, Long, Double, Double)]()
    val dwsEmits = new ConcurrentLinkedQueue[(Long, String)]() // (batch, stt)
    private val doneProgress = ArrayBuffer.empty[StreamingQueryProgress]
    private var running: Seq[StreamingQuery] = Nil
    private var fileNo = 0
    private val lastMtime = scala.collection.mutable.Map.empty[File, Long]

    /** Drop `files` into the subdirectory `box` of the source directory
      * `dir` (the sources read every box of `dir`). A new box is written aside and
      * renamed into place, so a trigger sees all of its files or none and
      * the files split into micro-batches the same way in every run; a file
      * added to an existing box is renamed in on its own. Modification
      * times (given, or else now) strictly increase per source, so the file
      * source takes files in generation order. */
    def put(dir: File, box: String, files: Seq[GenFile],
        mtimes: Option[Seq[Long]] = None): Unit = {
      val into = new File(dir, box)
      val fresh = !into.isDirectory
      fileNo += 1
      val aside = new File(staging, f"$fileNo%06d")
      aside.mkdirs()
      files.zipWithIndex.foreach { case (f, i) =>
        val tmp = new File(aside, f"$fileNo%06d-$i%03d.json")
        Files.write(tmp.toPath, f.bytes)
        val m = mtimes.map(_(i)).getOrElse(math.max(System.currentTimeMillis(),
          lastMtime.getOrElse(dir, 0L) + 1))
        tmp.setLastModified(m)
        lastMtime(dir) = m
        if (!fresh) Files.move(tmp.toPath, new File(into, tmp.getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      }
      if (fresh) Files.move(aside.toPath, into.toPath, StandardCopyOption.ATOMIC_MOVE)
      (if (dir == odsLog) logLines else dbLines).addAndGet(files.map(_.lines.size).sum)
    }

    /** Backlog files, in a box of their own, are dated in the past, one
      * second apart; `first` is the backlog index of `files.head`. */
    def putBacklog(files: Seq[(GenFile, GenFile)], first: Int = 0): Unit = {
      val m = Some(files.indices.map(i => backlogBase + (first + i) * 1000L))
      put(odsLog, s"backlog-$first", files.map(_._1), m)
      put(odsDb, s"backlog-$first", files.map(_._2), m)
    }
    private val backlogBase = System.currentTimeMillis() - 3600000L

    private def timedSink(name: String, id: Long)(body: => Unit): Unit = {
      val t0 = System.currentTimeMillis().toDouble
      body
      sinkWrites.add((name, id, t0, System.currentTimeMillis().toDouble))
    }

    private val ck = new File(root, "checkpoints").getPath

    /** The configured sink writer of one of the three queries. */
    private def writer(name: String): DataStreamWriter[_] = name match {
      case "dwd_page" =>
        val raw = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger)
          .text(s"${odsLog.getPath}/*").select(col("value").as("line"))
        StatefulOps.visitorRepairTws(pageViews(raw)).writeStream
          .foreachBatch { (b: Dataset[PageView], id: Long) =>
            timedSink(name, id) {
              b.persist()
              b.coalesce(1).write.mode("append").parquet(dwdDir.getPath)
              val keys = b.select("mid", "ts").as[(String, Long)].collect()
              b.unpersist()
              dwdBatchKeys.put(id, keys)
              dwdRows.addAndGet(keys.length)
            }
          }
      case "dws_page_window" =>
        val dwdIn = spark.readStream.schema(pageViewEnc.schema)
          .option("maxFilesPerTrigger", 1).parquet(dwdDir.getPath)
        pageWindows(dwdIn, Some("2 seconds")).writeStream
          .outputMode(OutputMode.Append)
          .foreachBatch { (b: DataFrame, id: Long) =>
            timedSink(name, id) {
              b.persist()
              b.write.mode("overwrite").parquet(s"${dwsDir.getPath}/batch=$id")
              val stts = b.select("stt").as[String].collect()
              b.unpersist()
              stts.foreach(s => dwsEmits.add((id, s)))
            }
          }
      case "dws_sku" =>
        val cdc = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger)
          .text(s"${odsDb.getPath}/*").select(col("value").as("line"))
        StatefulOps.keepLatestTws(versionedRows(cdc, watermark = true), FlushDelayMs)
          .writeStream
          .foreachBatch { (b: Dataset[VersionedRow], id: Long) =>
            timedSink(name, id) {
              b.write.mode("overwrite").parquet(s"${skuDir.getPath}/batch=$id")
            }
          }
    }

    /** Start the three queries, each triggering as soon as input arrives. */
    def start(): Unit = running = Seq("dwd_page", "dws_page_window", "dws_sku")
      .map(n => writer(n).queryName(n).option("checkpointLocation", s"$ck/$n").start())

    private def inputRows(name: String): Long =
      progress.filter(_.name == name).map(_.numInputRows).sum

    /** Every log line has reached the DWD sink. */
    def dwdCaughtUp: Boolean = {
      running.foreach(_.exception.foreach(e => throw e))
      inputRows("dwd_page") == logLines.get
    }

    /** Every input line consumed and every DWD row read by the DWS job. */
    def caughtUp: Boolean = dwdCaughtUp && inputRows("dws_sku") == dbLines.get &&
      inputRows("dws_page_window") == dwdRows.get

    /** Wait until no query has been inside a trigger for 50 ms straight
      * during the last 300 ms: the no-data batch a job runs after its
      * last data batch (its watermark moved) has finished too, so what
      * comes next starts on an idle topology. (An idle query still polls
      * its source every few ms, each poll a short trigger.) */
    def quiesce(): Unit = {
      val streak = Array.fill(running.size)(0)
      var calm = 0
      await("go idle") {
        running.zipWithIndex.foreach { case (q, i) =>
          streak(i) = if (q.status.isTriggerActive) streak(i) + 1 else 0 }
        calm = if (streak.forall(_ < 5)) calm + 1 else 0
        calm >= 30
      }
    }

    /** Poll with a bounded deadline; never await termination (the
      * `transformWithState` sinks may keep scheduling batches). */
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + DeadlineMs
      while (!cond) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"stream did not $what within ${DeadlineMs}ms")
        Thread.sleep(10)
      }
    }

    /** The watermark the latest micro-batch of `name` ran under. */
    def watermarkAt(name: String): Long =
      progress.filter(_.name == name).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(Instant.parse(_).toEpochMilli).foldLeft(0L)(math.max)

    /** Stop. The DWD query, whose sink is read downstream, stops only
      * between batches; the DWS queries may stop mid-batch, as their
      * sinks replace a re-run batch's output. */
    def stop(): Unit = {
      await("finish its DWD batch")(running.filter(_.name == "dwd_page").forall { q =>
        val st = q.status
        !st.isTriggerActive && !st.isDataAvailable && st.message.startsWith("Waiting")
      })
      running.foreach { q => q.stop(); doneProgress ++= q.recentProgress }
      running = Nil
    }

    def progress: Seq[StreamingQueryProgress] =
      doneProgress.toSeq ++ running.flatMap(_.recentProgress)
  }

  val pageViewEnc: org.apache.spark.sql.Encoder[PageView] =
    org.apache.spark.sql.Encoders.product[PageView]

  /** ODS log lines → the DWD page-view projection fed to the visitor
    * repair (the event time survives as `ts`, the key of an event). */
  def pageViews(raw: DataFrame): Dataset[PageView] =
    LogSplitter.pageStream(LogSplitter.parse(raw))
      .select(col("common.mid").as("mid"), col("page.page_id").as("pageId"),
        col("page.last_page_id").as("lastPageId"),
        col("common.is_new").as("isNew"), col("ts"),
        date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("date"))
      .as(pageViewEnc)

  def pageWindows(dwd: DataFrame, watermark: Option[String]): DataFrame =
    DwsWindows.tumblingAgg(dwd.withColumn("ets", timestamp_millis(col("ts"))),
      "ets", "10 seconds", keys = Seq(col("pageId"), col("isNew")),
      aggs = Seq(count(lit(1)).as("pv_ct"),
        approx_count_distinct(col("mid")).as("uv_est")),
      watermark = watermark)

  /** CDC lines → `order_detail` insert/update rows as keep-latest input. */
  def versionedRows(raw: DataFrame, watermark: Boolean): Dataset[VersionedRow] = {
    val d = CdcOps.tableStream(CdcOps.decode(raw), "order_detail",
        types = Seq("insert", "update"))
      .select(
        element_at(col("data"), "id").as("key"),
        col("ts").as("opTs"),
        concat_ws("|", element_at(col("data"), "l_partkey"),
          element_at(col("data"), "l_extendedprice")).as("payload"))
    val w = if (watermark)
      d.withColumn("eventTime", timestamp_millis(col("opTs")))
        .withWatermark("eventTime", "0 seconds")
    else d
    w.as(org.apache.spark.sql.Encoders.product[VersionedRow])
  }

  def run(spark: SparkSession, o: Opts): Result = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spans = new Spans
    val readyMs = spans.now()
    val setupRoot = spans.add(-1, "setup.session", Main.jvmStartMs, readyMs)
    val li = graft.Tables.lineitem(spark, o.data)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toIndexedSeq
    val ticks = math.max(1, math.ceil(o.seconds * 1000 / TickMs).toInt)

    // set-up rounds: cut the whole input and write the priming files,
    // fresh each time
    val rounds = (1 to Main.SetupRounds).map { r =>
      val t0 = spans.now()
      val plan = new Plan(o.seed, li, ticks, o.rate)
      val topo = new Topology(spark, new File(o.work, s"run$r"))
      topo.putBacklog(plan.backlogFiles.take(PrimeFiles))
      val t1 = spans.now()
      spans.add(setupRoot, "setup.generate", t0, t1, Map("round" -> r.toDouble))
      (plan, topo, t1 - t0)
    }
    val (plan, topo, _) = rounds.last

    // warm-up: each query's first micro-batch runs on the priming files,
    // then drain 0 runs the first part of the backlog; drain `k` times
    // part `k`, written at once onto an idle topology
    def prime(t: Topology): Unit = { t.start(); t.await("prime")(t.caughtUp) }
    def drain(k: Int, parent: Int = -1): (Double, Double) = {
      topo.quiesce()
      val c0 = Main.cpuSnapshot()
      val d0 = spans.now()
      val first = plan.drainFirst(k)
      topo.putBacklog(plan.backlogFiles.slice(first, plan.drainFirst(k + 1)), first)
      topo.await("drain the backlog")(topo.caughtUp)
      val d1 = spans.now()
      spans.add(parent, s"drain.$k", d0, d1)
      ((d1 - d0) / 1000, Main.cpuSince(c0))
    }
    def rowsPerS(k: Int, d: (Double, Double)): Double = plan.drainRows(k) / d._1
    if (o.drainOnly) {
      prime(topo)
      drain(0)
      val rates = (1 until Drains).map(k => rowsPerS(k, drain(k)))
      topo.stop()
      return Result(1, 0, Nil, Seq("stream.rows_per_s" -> Stats.median(rates)), Nil, None)
    }

    Main.note("generated")
    spans.timed(setupRoot, "setup.prime") { id => prime(topo); Main.note("primed"); drain(0, id) }
    Main.note("set-up done")
    val genMs = rounds.map(_._3)
    val setupS = (spans.now() - Main.jvmStartMs - genMs.sum + Stats.median(genMs)) / 1000

    val jobs = new JobListener
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val queryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (o.trace) spark.streams.addListener(queryListener)

    // (a) open loop at the fixed offered rate, from an idle topology
    topo.quiesce()
    val due = new ConcurrentHashMap[(String, Long), java.lang.Double]()
    val lagMs = new ConcurrentLinkedQueue[Double]()
    val o0 = spans.now()
    val start = o0 + 50
    val genThread = new Thread(() => plan.openFiles.zipWithIndex.foreach {
      case ((l, d), i) =>
        val dueMs = start + i * TickMs
        val wait = dueMs - spans.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        // event j of n was created at (j + 1) / n through the tick; the
        // file collects them, so latency includes that buffering
        l.keys.zipWithIndex.foreach { case (k, j) =>
          due.put(k, dueMs - TickMs + (j + 1.0) / l.keys.size * TickMs) }
        topo.put(topo.odsLog, "open", Seq(l)); topo.put(topo.odsDb, "open", Seq(d))
        lagMs.add(spans.now() - dueMs)
    }, "warebench-generator")
    genThread.start()
    genThread.join()
    topo.await("catch up with the open loop")(topo.dwdCaughtUp)
    val o1 = spans.now()
    spans.add(-1, "open_loop", o0, o1)
    val commitMs = commitTimes(topo.progress, "dwd_page")
    val latency = topo.dwdBatchKeys.asScala.toSeq.flatMap { case (id, keys) =>
      keys.flatMap(k => Option(due.get(k)).map(commitMs.getOrElse(id, Double.NaN) - _.doubleValue))
    }
    topo.await("catch up with the open loop")(topo.caughtUp)
    Main.note("open loop done")

    // (b) drain the rest of the backlog, after the open loop, which warms
    // the queries further. A traced run attaches its `SparkListener` for
    // the middle drain only; the untraced drains on both sides of it keep
    // JIT warm-up from favouring either side of the tracing overhead.
    val drain1 = drain(1)
    if (o.trace) spark.sparkContext.addSparkListener(jobs)
    val d0 = spans.now()
    val drain2 = drain(2)
    val d1 = spans.now()
    val js = if (!o.trace) Nil else {
      val settled = jobs.settled()
      spark.sparkContext.removeSparkListener(jobs)
      settled
    }
    val drain3 = drain(3)
    val drains = Seq(drain1, drain2, drain3)
    val drainS = Stats.median(drains.map(_._1))
    Main.note("drains done")

    // (c) stop, input arrives while down, restart from the checkpoints
    topo.stop()
    topo.put(topo.odsLog, "down",
      plan.downFiles.map(_._1) :+ GenFile(Vector(flushLog), Vector.empty))
    topo.put(topo.odsDb, "down",
      plan.downFiles.map(_._2) :+ GenFile(Vector(flushDb), Vector.empty))
    val r0 = spans.now()
    topo.start()
    topo.await("recover from the checkpoint")(topo.caughtUp)
    val r1 = spans.now()
    spans.add(-1, "restart", r0, r1)

    // every window and keep-latest row emits once a micro-batch runs
    // under the flush event's watermark
    topo.await("emit every window and keep-latest row") {
      topo.caughtUp && topo.watermarkAt("dws_page_window") >= FlushTs - 2000 &&
        topo.watermarkAt("dws_sku") >= FlushTs
    }
    topo.stop()
    if (o.trace) spark.streams.removeListener(queryListener)
    Main.note("restart done")
    val heapMb = Main.retainedHeapMb()
    val (sinkChecks, sinkDigest) = compare(spark, topo, replay(spark, plan))
    val checks = sinkChecks ++ Seq(
      "generator_same_seed_identical" -> rounds.map(_._1.digest).distinct.size.equals(1),
      "generator_other_seed_differs" ->
        (new Plan(o.seed + 1, li, ticks, o.rate).digest != plan.digest))
    Main.note(s"checked, stream sink digest $sinkDigest")
    val progress = topo.progress
    val batches = progress.count(_.numInputRows > 0).toLong

    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> drainS,
      "latency_p50_ms" -> Stats.quantile(latency, 0.5),
      "latency_p90_ms" -> Stats.quantile(latency, 0.9),
      "cpu_s" -> Stats.median(drains.map(_._2)),
      "heap_retained_mb" -> heapMb,
      "success_rate" -> 1.0)
    System.err.println(f"[warebench] drains of ${plan.drainRows(1)} rows in " +
      drains.map(d => f"${d._1}%.3f").mkString("", "/", "s, ") +
      f"${latency.size} latency samples, gen lag p90 " +
      f"${Stats.quantile(lagMs.asScala.toSeq, 0.9)}%.1fms")

    val perLayer =
      if (!o.trace) Nil
      else {
        val tablesJobs = new JobListener
        spark.sparkContext.addSparkListener(tablesJobs)
        val tablesRoot = Layers.timeTables(spark, o.data, spans)
        val tableJs = tablesJobs.settled()
        spark.sparkContext.removeSparkListener(tablesJobs)
        val rates = drains.zipWithIndex.map { case (d, k) => rowsPerS(k + 1, d) }
        traceBatches(spans, events.asScala.toSeq, topo)
        val tableSpans = spans.all.filter(_.parent == tablesRoot)
        streamLayer(progress, topo, commitMs, plan.lateKeys) ++
          execLayer(js, d0, d1, Main.cores(spark)) ++ Seq(
            "tables.load_ms" -> tableSpans.map(s => s.endMs - s.startMs).sum,
            "tables.load_jobs" -> tableJs.count(j => tableSpans.exists(s =>
              j.startMs >= s.startMs && j.startMs <= s.endMs)).toDouble,
            "stream.batches" -> batches.toDouble,
            "stream.parse_us_per_row" -> parseCost(spark, plan),
            "stream.recovery_ms" -> (r1 - r0),
            "stream.rows_per_s" -> Stats.median(rates),
            "gen.lag_ms_p90" -> Stats.quantile(lagMs.asScala.toSeq, 0.9),
            "trace.overhead_rows_per_s" -> (rates(1) - (rates(0) + rates(2)) / 2),
            "error_rate" -> 0.0)
      }
    Result(batches, 0, endToEnd, perLayer, checks, if (o.trace) Some(spans) else None)
  }

  /** Epoch ms at which each micro-batch of `name` committed. */
  def commitTimes(progress: Seq[StreamingQueryProgress], name: String): Map[Long, Double] =
    progress.filter(_.name == name).map { p =>
      p.batchId -> (Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").toDouble)
    }.toMap

  final case class Expected(dwd: DataFrame, dws: DataFrame, sku: DataFrame)

  /** The batch answer: all generated lines (flush events aside) through
    * the same product functions; the designed beyond-watermark events are
    * the only rows the DWS window drops. */
  def replay(spark: SparkSession, plan: Plan): Expected = {
    import spark.implicits._
    val logDf = plan.all.flatMap(_._1.lines).toDF("line")
    val dbDf = plan.all.flatMap(_._2.lines).toDF("line")
    val dwd = StatefulOps.visitorRepairTws(pageViews(logDf)).toDF().persist()
    val late = plan.lateKeys.toSeq.toDF("mid", "ts")
    val dws = pageWindows(dwd.join(broadcast(late), Seq("mid", "ts"), "left_anti"),
      None).persist()
    val latest = Window.partitionBy(col("key")).orderBy(col("opTs").desc)
    val sku = versionedRows(dbDf, watermark = false).toDF()
      .withColumn("rn", row_number().over(latest)).filter(col("rn") === 1)
      .drop("rn").persist()
    Expected(dwd, dws, sku)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  /** Each sink against its batch replay, plus a digest of the sink
    * contents (equal across runs of one seed). */
  private def compare(spark: SparkSession, topo: Topology,
      want: Expected): (Seq[(String, Boolean)], String) = {
    def sink(dir: File) = spark.read.parquet(dir.getPath).drop("batch")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val checks = Seq(
      "dwd_page_equals_batch_replay" ->
        (sink(topo.dwdDir).filter(col("mid") =!= "flush"), want.dwd),
      "dws_page_window_equals_batch_replay" -> (sink(topo.dwsDir), want.dws),
      "dws_sku_equals_batch_replay" -> (sink(topo.skuDir), want.sku)
    ).map { case (name, (g, w)) =>
      val (got, exp) = (rowsOf(g), rowsOf(w))
      got.foreach(r => md.update(r.getBytes("UTF-8")))
      if (got != exp) System.err.println(s"[warebench] $name: ${got.size} rows, " +
        s"${exp.size} expected, ${got.diff(exp).take(3)} vs ${exp.diff(got).take(3)}")
      name -> (got == exp)
    }
    (checks, md.digest().map("%02x".format(_)).mkString)
  }

  /** `LogSplitter.splitAll` over the backlog log lines (every branch) plus
    * `CdcOps.decode` over its CDC lines, timed in batch, µs per line. */
  private def parseCost(spark: SparkSession, plan: Plan): Double = {
    import spark.implicits._
    val log = plan.backlogFiles.flatMap(_._1.lines).toDF("line").persist()
    val db = plan.backlogFiles.flatMap(_._2.lines).toDF("line").persist()
    val n = log.count() + db.count()
    val t0 = System.nanoTime()
    LogSplitter.splitAll(log).values.foreach(_.queryExecution.toRdd.count())
    CdcOps.decode(db).queryExecution.toRdd.count()
    val us = (System.nanoTime() - t0) / 1e3
    log.unpersist(); db.unpersist()
    us / n
  }

  private def streamLayer(progress: Seq[StreamingQueryProgress], topo: Topology,
      dwdCommit: Map[Long, Double], late: Set[(String, Long)]): Seq[(String, Double)] = {
    val data = progress.filter(_.numInputRows > 0)
    def phaseP50(k: String) = Stats.median(data.flatMap(p =>
      Option(p.durationMs.get(k)).map(_.toDouble)))
    val trigger = data.map(_.durationMs.get("triggerExecution").toDouble)
    val ops = Map("visitor_repair" -> "dwd_page",
      "page_window" -> "dws_page_window", "keep_latest" -> "dws_sku")
    val state = ops.toSeq.flatMap { case (op, q) =>
      val ps = progress.filter(p => p.name == q && p.stateOperators.nonEmpty)
      val last = ps.lastOption.map(_.stateOperators.head)
      Seq(
        s"state.$op.rows_total" -> last.map(_.numRowsTotal.toDouble).getOrElse(Double.NaN),
        s"state.$op.memory_mb" -> last.map(_.memoryUsedBytes / 1048576.0).getOrElse(Double.NaN),
        s"state.$op.commit_ms" -> Stats.median(ps.map(_.stateOperators.head.commitTimeMs.toDouble)),
        s"state.$op.updates_ms" -> Stats.median(ps.map(_.stateOperators.head.allUpdatesTimeMs.toDouble)))
    }
    val dws = progress.filter(_.name == "dws_page_window")
    val wmLag = dws.flatMap { p =>
      for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
    }
    val dwsIn = dws.map(_.numInputRows).sum
    val dropped = dws.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    // DWS freshness: commit of the batch emitting a window minus the DWD
    // commit of the newest event in that window's event-time range
    val dwdCommitOf = topo.dwdBatchKeys.asScala.toSeq.flatMap { case (id, keys) =>
      keys.filterNot(late).map(k => (k._2 / WindowMs) -> dwdCommit.getOrElse(id, Double.NaN)) }
      .groupBy(_._1).map { case (w, v) => w -> v.map(_._2).max }
    val dwsCommit = commitTimes(progress, "dws_page_window")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val emitLag = topo.dwsEmits.asScala.toSeq.distinct.flatMap { case (id, stt) =>
      val w = Instant.from(fmt.parse(stt)).toEpochMilli / WindowMs
      for (e <- dwsCommit.get(id); d <- dwdCommitOf.get(w) if !d.isNaN) yield e - d
    }
    val sinkMs = topo.sinkWrites.asScala.toSeq.map(s => s._4 - s._3)
    state ++ Seq(
      "stream.batch_rows_p50" -> Stats.median(data.map(_.numInputRows.toDouble)),
      "stream.trigger_ms_p50" -> Stats.quantile(trigger, 0.5),
      "stream.trigger_ms_p90" -> Stats.quantile(trigger, 0.9),
      "stream.latest_offset_ms" -> phaseP50("latestOffset"),
      "stream.query_planning_ms" -> phaseP50("queryPlanning"),
      "stream.add_batch_ms" -> phaseP50("addBatch"),
      "stream.wal_commit_ms" -> phaseP50("walCommit"),
      "stream.commit_offsets_ms" -> phaseP50("commitOffsets"),
      "stream.sink_write_ms" -> Stats.median(sinkMs),
      "stream.watermark_lag_ms" -> Stats.median(wmLag),
      "stream.late_drop_frac" -> (if (dwsIn > 0) dropped.toDouble / dwsIn else Double.NaN),
      "stream.dws_emit_lag_ms" -> Stats.median(emitLag))
  }

  /** Spark execution totals of the jobs launched while draining. */
  private def execLayer(jobs: Seq[JobRec], from: Double, to: Double,
      cores: Int): Seq[(String, Double)] = {
    val js = jobs.filter(j => j.startMs >= from && j.startMs <= to)
    val runS = js.map(_.runMs).sum / 1000.0
    Seq(
      "exec.ms" -> (to - from),
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stagesRun).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_read_mb" -> js.map(_.shuffleReadB).sum / 1048576.0,
      "exec.shuffle_write_mb" -> js.map(_.shuffleWriteB).sum / 1048576.0,
      "exec.spill_mb" -> js.map(_.spillB).sum / 1048576.0,
      "exec.core_busy_frac" -> runS / ((to - from) / 1000 * cores))
  }

  /** One span per micro-batch with its `durationMs` phases as children
    * (laid end to end in engine order: the progress gives durations, not
    * start times) and the measured sink write under `addBatch`. */
  private def traceBatches(spans: Spans, events: Seq[StreamingQueryProgress],
      topo: Topology): Unit = {
    val writes = topo.sinkWrites.asScala.toSeq.groupBy(w => (w._1, w._2))
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    events.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = p.durationMs.get("triggerExecution").toDouble
      val id = spans.add(-1, s"batch.${p.name}.${p.batchId}", start, start + total,
        Map("rows" -> p.numInputRows.toDouble))
      var t = start
      order.foreach { k =>
        Option(p.durationMs.get(k)).map(_.toDouble).foreach { ms =>
          val phase = spans.add(id, s"phase.$k", t, t + ms)
          if (k == "addBatch") writes.getOrElse((p.name, p.batchId), Nil).foreach {
            w => spans.add(phase, "sink_write", w._3, w._4)
          }
          t += ms
        }
      }
    }
  }
}
