package warebench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** `ads_dashboard`: one client issuing the dashboard's registered queries
  * in a closed loop, a seeded shuffle of the query list per pass, over
  * stores built during set-up.
  *
  * Set-up builds every store the workload reads [[Main.SetupRounds]]
  * times, each time on a fresh alias of the input directory (the product
  * keys its stores on the input path, so each alias is a real rebuild),
  * then warms up by running every query once (see [[warmUp]]), writing
  * each result in `graft.Verify`'s layout for the DuckDB oracle. The
  * measured phase then runs whole passes until `seconds` have elapsed (at
  * least [[MinPasses]]). Every timing but `cpu_s` rests on each query's
  * median latency over those passes, so load from elsewhere on the
  * machine that slows one pass, or part of it, does not move it. */
object AdsWorkload {

  type Query = (SparkSession, String) => DataFrame

  val adsQueries: Seq[String] = Seq(
    "q_ads_channel_stats", "q_ads_keyword_stats", "q_ads_visitor_hour",
    "q_ads_trade_stats", "q_ads_province_order", "q_ads_spu_category",
    "q_ads_gmv", "q_ads_user_retention", "q_ads_session_stats",
    "q_ads_activity_subsidy", "q_ads_coupon_subsidy",
    "q_ads_trademark_stats", "q_ads_category_stats", "q_ads_trademark_pie",
    "q_ads_trademark_top", "q_ads_tm_cat_user", "q_ads_uv_page",
    "q_ads_user_change", "q_ads_user_back", "q_ads_user_trade",
    "q_ads_visitor_type", "q_ads_channel_derived", "q_ads_keyword_lateral",
    "q_dwd_order_wide", "q_dws_sku_order", "q_dws_traffic_window")

  /** Store tag (the product's store directory prefix, as in `graft.Bench`)
    * → the workload query that first reads it. Timing that query on a
    * fresh input alias is the store's build (plus one probe). */
  val storeProbes: Seq[(String, String)] = Seq("dwd" -> "q_dwd_order_wide")

  /** Passes measured at least, whatever `seconds` says: three give each
    * query a median that one slow pass cannot move. A traced run, which
    * prints no end-to-end metric, measures one. */
  val MinPasses = 3

  /** An operation that always throws (a missing table): the self-test
    * injects it to prove failures are counted, never lost. */
  val injectedFailure: (String, Query) =
    "injected_failure" -> ((s, d) => Tables.load(s, d, "no_such_table"))

  def run(spark: SparkSession, o: Opts): Result = {
    val registry = SparkEntry.queries
    val ops: Seq[(String, Query)] = adsQueries.map(n => n -> registry(n)) ++
      (if (o.injectFailure) Seq(injectedFailure) else Nil)
    val spans = new Spans
    val readyMs = spans.now()
    val setupRoot = spans.add(-1, "setup.session", Main.jvmStartMs, readyMs)

    // set-up rounds: build every store on a fresh alias of the input
    val rounds = (1 to Main.SetupRounds).map { r =>
      val alias = new File(o.work, s"in$r")
      Files.createSymbolicLink(alias.toPath, Paths.get(o.data).toAbsolutePath)
      val r0 = spans.now()
      val perStore = storeProbes.map { case (tag, q) =>
        val t0 = spans.now()
        registry(q)(spark, alias.getPath).queryExecution.toRdd.count()
        GraftSession.releaseCaches(spark)
        val t1 = spans.now()
        spans.add(setupRoot, s"setup.store.$tag", t0, t1,
          Map("round" -> r.toDouble))
        tag -> (t1 - t0)
      }
      Main.note(s"set-up round $r")
      (alias.getPath, spans.now() - r0, perStore.toMap)
    }
    val d = rounds.last._1

    val warm0 = spans.now()
    val outDir = new File(o.work, "out")
    warmUp(spark, ops.filterNot(_._1 == injectedFailure._1), d, outDir)
    val warm1 = spans.now()
    Main.note("warm-up done")
    spans.add(setupRoot, "setup.warmup", warm0, warm1)
    val roundMs = rounds.map(_._2)
    val setupS =
      (warm1 - Main.jvmStartMs - roundMs.sum + Stats.median(roundMs)) / 1000

    // measured phase: one client, whole passes, seeded order per pass
    val rng = new scala.util.Random(o.seed)
    val passWall = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[Double]
    val latMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var attempted = 0L
    var failed = 0L
    /** One untraced pass; its wall seconds. Only measured passes (`count`)
      * add to the latency sample and the operation tally. */
    def pass(count: Boolean): Double = {
      val p0 = spans.now()
      rng.shuffle(ops).foreach { case (name, fn) =>
        if (count) attempted += 1
        val q0 = spans.now()
        try {
          fn(spark, d).queryExecution.toRdd.count()
          if (count) latMs.getOrElseUpdate(name, ArrayBuffer.empty) += spans.now() - q0
        } catch {
          case e: Exception =>
            if (count) failed += 1
            System.err.println(s"[warebench] $name failed: ${e.getMessage}")
        }
        GraftSession.releaseCaches(spark)
      }
      (spans.now() - p0) / 1000
    }
    val m0 = spans.now()
    val minPasses = if (o.trace) 1 else MinPasses
    while (passWall.size < minPasses ||
        (!o.trace && spans.now() - m0 < o.seconds * 1000)) {
      val c0 = Main.cpuSnapshot()
      passWall += pass(count = true)
      passCpu += Main.cpuSince(c0)
      System.err.println(f"[warebench] pass ${passWall.size} wall ${passWall.last}%.3f cpu ${passCpu.last}%.2f")
    }
    val heapMb = Main.retainedHeapMb()
    // each query's median latency over the passes; a pass is their sum
    val queryMs = latMs.values.map(v => Stats.median(v.toSeq)).toSeq
    val passS = queryMs.sum / 1000

    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "latency_p50_ms" -> Stats.quantile(queryMs, 0.5),
      "latency_p90_ms" -> Stats.quantile(queryMs, 0.9),
      "cpu_s" -> Stats.median(passCpu.toSeq),
      "heap_retained_mb" -> heapMb,
      "success_rate" -> (attempted - failed).toDouble / attempted)
    System.err.println(f"[warebench] ${passWall.size} passes, " +
      f"${latMs.values.map(_.size).sum} query samples, pass_s $passS%.3f")

    val perLayer =
      if (!o.trace) Nil
      else {
        val storeLayer = storeProbes.flatMap { case (tag, _) =>
          val dirs = Option(new File(sys.props("java.io.tmpdir")).listFiles())
            .toSeq.flatten.filter(_.getName.startsWith("graft_dwd_store_"))
            .flatMap(root => Option(root.listFiles()).toSeq.flatten)
            .filter(f => f.getName.startsWith(tag + "_") &&
              f.getName.contains(new File(d).getName))
          Seq(s"store.$tag.build_ms" ->
              Stats.median(rounds.map(_._3(tag))),
            s"store.$tag.mb" ->
              (if (dirs.isEmpty) Double.NaN else dirs.map(Main.dirMb).sum))
        }
        // the traced pass runs between two untraced ones, the last measured
        // pass and one more after it, so JIT warmth does not favour either
        // side of the overhead
        val traced = tracedPass(spark, ops, d, o, rng, spans)
        val untracedS = (passWall.last + pass(count = false)) / 2
        storeLayer ++ traced ++ Seq(
          "trace.overhead_pass_s" -> (traced.toMap.apply("traced_pass_s") -
            untracedS),
          "error_rate" -> failed.toDouble / attempted)
      }
    Result(attempted, failed, endToEnd, perLayer, Nil,
      if (o.trace) Some(spans) else None)
  }

  /** Warm-up: every query once, in list order, on the client thread,
    * writing its result where `scripts/check.py` expects it (a query that
    * throws leaves `<name>._FAILED`, which the check counts as a failure).
    * This first pass carries most of the JIT's compile work. */
  private def warmUp(spark: SparkSession, ops: Seq[(String, Query)],
      d: String, outDir: File): Unit = {
    outDir.mkdirs()
    ops.foreach { case (name, fn) =>
      try fn(spark, d).coalesce(1).write.mode("overwrite")
        .parquet(new File(outDir, name).getPath)
      catch {
        case e: Exception =>
          Files.writeString(Paths.get(outDir.getPath, s"$name._FAILED"),
            String.valueOf(e.getMessage))
      }
      GraftSession.releaseCaches(spark)
    }
    val oracles = SparkEntry.oracleSql.filter(kv => ops.exists(_._1 == kv._1))
    Files.writeString(Paths.get(outDir.getPath, "oracle_sql.json"),
      Json.obj(oracles.toSeq.map { case (k, v) => k -> Json.str(v) }))
  }

  /** One more pass, traced: spans for construct / plan / exec around the
    * calls into each layer, Spark jobs parented by the span that launched
    * them, Catalyst phases from `QueryExecution.tracker`, and plan-shape
    * counts from the executed plan. Also times one `Tables` load per
    * table. */
  private def tracedPass(spark: SparkSession, ops: Seq[(String, Query)],
      d: String, o: Opts, rng: scala.util.Random,
      spans: Spans): Seq[(String, Double)] = {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tablesRoot = Layers.timeTables(spark, d, spans)
    val phases = ArrayBuffer.empty[(String, Double)]
    val shape = ArrayBuffer.empty[Map[String, Double]]
    val stepSpans = ArrayBuffer.empty[(Int, String)] // (span id, step)
    val p0 = spans.now()
    val passRoot = spans.timed(-1, "pass") { root =>
      rng.shuffle(ops).foreach { case (name, fn) =>
        try spans.timed(root, s"query.$name") { qid =>
          val df = spans.timed(qid, "construct") { id =>
            stepSpans += id -> "construct"; fn(spark, d) }
          val qe = df.queryExecution
          spans.timed(qid, "plan") { id =>
            stepSpans += id -> "plan"; qe.executedPlan }
          spans.timed(qid, "exec") { id =>
            stepSpans += id -> "exec"; qe.toRdd.count() }
          qe.tracker.phases.foreach { case (ph, s) =>
            phases += ph -> s.durationMs.toDouble
            spans.add(qid, s"catalyst.$ph", s.startTimeMs.toDouble,
              s.endTimeMs.toDouble)
          }
          shape += Shape.of(qe.executedPlan)
        } catch { case _: Exception => () } // counted in the untraced passes
        GraftSession.releaseCaches(spark)
      }
      root
    }
    val tracedPassS = (spans.now() - p0) / 1000
    val jobs = listener.settled()
    spark.sparkContext.removeSparkListener(listener)

    // parent each job by the innermost step span that contains its start
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    val steps = stepSpans.toSeq.map { case (id, step) => (byId(id), step) }
    val tablesSpans = all.filter(_.parent == tablesRoot)
    val jobStep = jobs.map { j =>
      val owner = steps.find { case (s, _) =>
        j.startMs >= s.startMs && j.startMs <= s.endMs }
      val tOwner = tablesSpans.find(s =>
        j.startMs >= s.startMs && j.startMs <= s.endMs)
      val parent = owner.map(_._1.id).orElse(tOwner.map(_.id)).getOrElse(passRoot)
      spans.add(parent, s"job.${j.id}", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs,
        Map("tasks" -> j.tasks.toDouble, "task_run_ms" -> j.runMs.toDouble))
      j -> owner.map(_._2).orElse(tOwner.map(_ => "tables")).getOrElse("other")
    }
    def jobsIn(step: String) = jobStep.filter(_._2 == step).map(_._1)
    val execJobs = jobsIn("exec")
    val stepMs = steps.groupBy(_._2).map { case (k, v) =>
      k -> v.map { case (s, _) => s.endMs - s.startMs }.sum }
    val execMs = stepMs.getOrElse("exec", Double.NaN)
    val phaseMs = phases.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else Double.NaN
    val sh = Shape.keys.map(k => k ->
      (if (shape.isEmpty) Double.NaN else shape.map(_.getOrElse(k, 0.0)).sum)).toMap
    val taskRunS = execJobs.map(_.runMs).sum / 1000.0
    Seq(
      "traced_pass_s" -> tracedPassS,
      "tables.load_ms" -> tablesSpans.map(s => s.endMs - s.startMs).sum,
      "tables.load_jobs" -> jobsIn("tables").size.toDouble,
      "construct.ms" -> stepMs.getOrElse("construct", Double.NaN),
      "construct.jobs" -> jobsIn("construct").size.toDouble,
      "plan.analysis_ms" -> phaseMs.getOrElse("analysis", Double.NaN),
      "plan.optimization_ms" -> phaseMs.getOrElse("optimization", Double.NaN),
      "plan.planning_ms" -> phaseMs.getOrElse("planning", Double.NaN),
      "exec.ms" -> execMs,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execJobs.map(_.stagesRun).sum.toDouble,
      "exec.tasks" -> execJobs.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> execJobs.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> execJobs.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_read_mb" -> execJobs.map(_.shuffleReadB).sum / 1048576.0,
      "exec.shuffle_write_mb" -> execJobs.map(_.shuffleWriteB).sum / 1048576.0,
      "exec.spill_mb" -> execJobs.map(_.spillB).sum / 1048576.0,
      "exec.core_busy_frac" -> ratio(taskRunS, execMs / 1000 * Main.cores(spark)),
      "shape.scans" -> sh("scans"),
      "shape.dup_scan_frac" -> ratio(sh("dup_scans"), sh("scans")),
      "shape.exchanges" -> sh("exchanges"),
      "shape.reused_exchange_frac" ->
        ratio(sh("reused_exchanges"), sh("exchanges") + sh("reused_exchanges")),
      "shape.bnlj" -> sh("bnlj"),
      "shape.codegen_fallback" -> sh("codegen_fallback"),
      "shape.unpartitioned_windows" -> sh("unpartitioned_windows"),
      "shape.rdd_scans" -> sh("rdd_scans"))
  }
}
