package warebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** One timed interval. Spans live in memory and are written once, when
  * the run ends; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** Span store. Times are epoch milliseconds (fractional), so spans taken
  * from `System.nanoTime` line up with Spark's listener event times. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, name, startMs, endMs, attrs))
    id
  }

  /** Time `body` as a span; the body receives the span's id so it can
    * parent children. The span is recorded even when the body throws. */
  def timed[T](parent: Int, name: String)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = now()
    try body(id)
    finally buf.add(Span(id, parent, name, t0, now()))
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  /** Self time of each span: its duration minus the union of its
    * children's intervals clipped to it, so it is never negative even when
    * children overlap (concurrent Spark jobs) or stick out. */
  def selfTimes: Map[Int, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }

  def toJson: String = {
    val self = selfTimes
    all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_ms":${Json.num(self(s.id))},"attrs":$attrs}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Per-job record assembled from listener events. */
final class JobRec(val id: Int, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var stagesRun = 0
}

/** Public-API `SparkListener` that keeps one [[JobRec]] per job with the
  * task metrics of its stages. Attach only in a traced run. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs started so far, after the listener bus has delivered every end
    * event (bounded wait: the bus is asynchronous). */
  def settled(timeoutMs: Long = 10000): Seq[JobRec] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.exists(_.endMs.isNaN))
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50) // trailing task-end events of the last job
    synchronized(jobs.values.toSeq)
  }
}

/** Plan-shape counts over a post-AQE executed plan, subqueries included. */
object Shape extends AdaptiveSparkPlanHelper {
  val keys: Seq[String] = Seq("scans", "dup_scans", "exchanges",
    "reused_exchanges", "bnlj", "codegen_fallback",
    "unpartitioned_windows", "rdd_scans")

  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scanKeys = nodes.collect {
      case f: FileSourceScanExec =>
        "file:" + f.relation.location.rootPaths.mkString(",")
      case r: RDDScanExec => "rdd:" + r.rdd.id
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        "mem:" + m.relation.cacheBuilder.cachedName
    }
    val fallback = nodes.map(_.expressions.map(_.collect {
      case e: CodegenFallback => e
    }.size).sum).sum
    Map(
      "scans" -> scanKeys.size.toDouble,
      "dup_scans" -> (scanKeys.size - scanKeys.distinct.size).toDouble,
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "reused_exchanges" ->
        nodes.count(_.isInstanceOf[ReusedExchangeExec]).toDouble,
      "bnlj" -> nodes.count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false
      }.toDouble,
      "codegen_fallback" -> fallback.toDouble,
      "unpartitioned_windows" -> nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }.toDouble,
      "rdd_scans" -> nodes.count(_.isInstanceOf[RDDScanExec]).toDouble)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
