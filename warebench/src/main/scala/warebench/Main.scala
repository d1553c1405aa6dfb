package warebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Options shared by every workload. `work` is a fresh per-run directory
  * (`run.py` puts the JVM's tmpdir inside it, so the product's PID-scoped
  * store root lands there too); `data` is the read-only input directory. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String,
    rate: Int, injectFailure: Boolean, drainOnly: Boolean)

/** What a workload hands back: end-to-end metrics (untraced part of the
  * run), per-layer metrics (filled only when traced), the operation
  * tally, and the outcome of the in-JVM output checks. */
final case class Result(attempted: Long, failed: Long,
    endToEnd: Seq[(String, Double)], perLayer: Seq[(String, Double)],
    checks: Seq[(String, Boolean)], spans: Option[Spans])

/** Entry point: `warebench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir> --out <result.json> --rate <rows/s>`
  * (the stream's offered rate, which `BENCHMARK.json`'s command sets). Writes one
  * JSON result file; `run.py` turns it into the benchmark's output line
  * and runs the DuckDB oracle over the batch outputs. */
object Main {
  /** Set-up rounds per run; `setup_s` counts the median round. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble, trace = kv.get("trace").contains("1"),
      data = kv("data"), work = kv("work"), out = kv("out"),
      rate = kv("rate").toInt,
      injectFailure = kv.get("inject-failure").contains("1"),
      drainOnly = kv.get("drain-only").contains("1"))
    val spark = graft.GraftSession.get()
    graft.GraftSession.silenceBoundedWindowWarn()
    val r =
      try o.workload match {
        case "ads_dashboard" => AdsWorkload.run(spark, o)
        case "stream_topology" => StreamWorkload.run(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    write(o, r)
  }

  /** Epoch ms at which this JVM started: set-up time counts from here. */
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** CPU nanoseconds used so far by each live Java thread. */
  def cpuSnapshot(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  }

  /** CPU seconds the JVM's Java threads used since `before`: Spark tasks,
    * the client thread, the streaming query threads. Each thread alive now
    * counts its CPU since the snapshot (all of it, if it started since).
    * It leaves out the JIT compiler, GC and RocksDB's native background
    * threads, whose share moved from run to run by up to a third of a
    * pass, and any thread that started and ended in between (such as a
    * per-call pool), whose CPU is lost. */
  def cpuSince(before: Map[Long, Long]): Double =
    cpuSnapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Used heap after full collections: what the measured phase retained. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(
    f"[warebench] +${(System.currentTimeMillis() - jvmStartMs) / 1000}%.1fs $msg")

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def dirMb(f: File): Double =
    if (f.isFile) f.length / 1048576.0
    else Option(f.listFiles()).map(_.map(dirMb).sum).getOrElse(0.0)

  private def write(o: Opts, r: Result): Unit = {
    def metrics(ms: Seq[(String, Double)]) =
      Json.obj(ms.map { case (k, v) => k -> Json.num(v) })
    val traceFile = r.spans.map { sp =>
      val f = Paths.get(o.work, "trace.json")
      Files.writeString(f, sp.toJson)
      f.toString
    }
    val body = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "end_to_end" -> metrics(r.endToEnd),
      "per_layer" -> metrics(r.perLayer),
      "checks" -> Json.obj(r.checks.map { case (k, ok) => k -> ok.toString }),
      "trace_file" -> traceFile.map(Json.str).getOrElse("null")))
    Files.writeString(Paths.get(o.out), body + "\n")
  }
}
