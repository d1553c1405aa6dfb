package warebench

import java.util.SplittableRandom
import scala.collection.mutable

/** One ODS input file: its lines, and for log files the `(mid, ts)` key of
  * every event it carries (events are unique on that key). */
final case class GenFile(lines: Vector[String], keys: Vector[(String, Long)]) {
  def bytes: Array[Byte] = lines.mkString("", "\n", "\n").getBytes("UTF-8")
}

/** The seeded input of `stream_topology`: gmall behaviour-log lines
  * (`LogSchemas.logEvent` shape) and Maxwell `order_detail` envelopes
  * derived from `lineitem`, cut into files. The same seed and sizes give
  * byte-identical files.
  *
  * Event time is synthetic (it never reads the clock), so sink contents
  * are a function of the seed alone:
  *  - log event `i` sits at `T0 + i * StepMs`; 5% are out of order by up
  *    to 1.5 s, inside the 2 s watermark, so they are never dropped;
  *  - 1% (from file `2 * FilesPerTrigger + 2` on) are beyond the
  *    watermark: their 10 s window ends at least 3 s before the newest
  *    event of a file `2 * FilesPerTrigger + 1` files earlier. At most
  *    `FilesPerTrigger` files share a micro-batch, so that event was seen
  *    at least two batches earlier; the window agg filters late rows with
  *    the previous batch's watermark, so it drops these rows however the
  *    files are batched;
  *  - the first file also carries each of the 60 hottest visitors' first
  *    visit on the previous day, so the visitor repair rewrites their
  *    later `is_new=1` flags;
  *  - each `order_detail` insert has a 1-in-3 chance of a repriced update
  *    in the next file, well inside the keep-latest flush delay. */
final class StreamGen(seed: Long, lineitem: IndexedSeq[(Long, Int, Long, Double)]) {
  import StreamGen._

  private val rng = new SplittableRandom(seed)
  private val used = mutable.HashSet.empty[(String, Long)]
  private var nextLog = 0L
  private var nextDb = 0L
  private var prefixMax = Vector.empty[Long] // newest ts up to file k
  private var liPos = 0
  private var cycle = 0
  private var pendingUpdates = Vector.empty[Seq[(String, String)]]
  private val order = {
    val ix = lineitem.indices.toArray
    var i = ix.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = ix(i); ix(i) = ix(j); ix(j) = t; i -= 1
    }
    ix
  }
  private val midCdf = {
    val w = (0 until Mids).map(m => 1.0 / math.pow(m + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Keys of the beyond-watermark events, which the DWS window must drop. */
  val lateKeys: mutable.Set[(String, Long)] = mutable.HashSet.empty

  private def mid(): String = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(midCdf, u)
    val m = if (i >= 0) i else math.min(-i - 1, Mids - 1)
    f"mid_$m%03d"
  }

  private def logLine(mid: String, page: String, last: String, isNew: String,
      ts: Long): String = {
    val lastField = if (last == null) "" else s""","last_page_id":"$last""""
    s"""{"common":{"mid":"$mid","is_new":"$isNew","ch":"web","ar":"110000"},""" +
      s""""page":{"page_id":"$page"$lastField,"during_time":${1000 + ts % 9000}},"ts":$ts}"""
  }

  /** The next log file with `n` main-sequence events. */
  def logFile(n: Int): GenFile = {
    val k = prefixMax.size
    val out = Vector.newBuilder[(String, (String, Long))]
    if (k == 0) (0 until 60).foreach { m =>
      val key = (f"mid_$m%03d", T0 - DayMs + m * 1000L)
      used += key
      out += logLine(key._1, "home", null, "1", key._2) -> key
    }
    (0 until n).foreach { _ =>
      val nominal = T0 + nextLog * StepMs
      nextLog += 1
      val r = rng.nextDouble()
      val late = k >= 2 * FilesPerTrigger + 2 && r < 0.01
      var ts =
        if (late) {
          val ws = Math.floorDiv(prefixMax(k - 2 * FilesPerTrigger - 1) - 3000,
            WindowMs) * WindowMs
          ws - 2 * WindowMs + rng.nextLong(WindowMs)
        } else if (r < 0.06) nominal - 100 - rng.nextLong(1400)
        else nominal
      val m = mid()
      while (used.contains((m, ts))) ts += (if (late) -1 else 1)
      used += ((m, ts))
      if (late) lateKeys += ((m, ts))
      val page = Pages(rng.nextInt(Pages.size))
      val last = if (page == "home") null else Pages(rng.nextInt(Pages.size))
      val isNew = if (rng.nextDouble() < 0.3) "1" else "0"
      out += logLine(m, page, last, isNew, ts) -> (m, ts)
    }
    val rows = out.result()
    val fileMax = rows.map(_._2._2).max
    prefixMax :+= prefixMax.lastOption.fold(fileMax)(math.max(_, fileMax))
    GenFile(rows.map(_._1), rows.map(_._2))
  }

  private def envelope(table: String, typ: String, data: Seq[(String, String)]): String = {
    val opTs = T0 + nextDb * DbStepMs
    nextDb += 1
    val d = data.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"database":"gmall","table":"$table","type":"$typ","ts":$opTs,"data":{$d}}"""
  }

  /** The next CDC file: last file's updates, `n` inserts, and two noise
    * envelopes the `order_detail` router must drop. */
  def dbFile(n: Int): GenFile = {
    val lines = Vector.newBuilder[String]
    pendingUpdates.foreach(d => lines += envelope("order_detail", "update", d))
    val updates = Vector.newBuilder[Seq[(String, String)]]
    (0 until n).foreach { _ =>
      val row = order(liPos)
      val (ok, ln, pk, price) = lineitem(row)
      liPos += 1
      if (liPos == order.length) { liPos = 0; cycle += 1 }
      // the detail id: one per lineitem row and pass over the table
      def data(p: Double) = Seq("id" -> s"$row-$cycle",
        "l_orderkey" -> ok.toString, "l_linenumber" -> ln.toString,
        "l_partkey" -> pk.toString,
        "l_extendedprice" -> "%.2f".formatLocal(java.util.Locale.ROOT, p))
      lines += envelope("order_detail", "insert", data(price))
      if (rng.nextInt(3) == 0) updates += data(price + 100)
    }
    lines += envelope("order_info", "insert", Seq("id" -> nextDb.toString))
    lines += envelope("order_detail", "delete", Seq("id" -> "0-0"))
    pendingUpdates = updates.result()
    GenFile(lines.result(), Vector.empty)
  }
}

object StreamGen {
  val T0: Long = 1717200600000L // 2024-06-01 00:10:00 UTC
  val DayMs: Long = 86400000L
  val StepMs: Long = 20L
  val DbStepMs: Long = 80L
  val WindowMs: Long = 10000L
  val Mids: Int = 200
  val FilesPerTrigger: Int = 4
  val Pages: IndexedSeq[String] = IndexedSeq("home", "good_list",
    "good_detail", "cart", "trade", "payment", "search", "mine")

  /** Far-future event time: pushes every watermark past all real windows
    * and keep-latest timers, so their rows emit. */
  val FlushTs: Long = T0 + DayMs / 2
  val flushLog: String =
    s"""{"common":{"mid":"flush","is_new":"0"},"page":{"page_id":"home"},"ts":$FlushTs}"""
  val flushDb: String =
    s"""{"database":"gmall","table":"order_detail","type":"insert","ts":$FlushTs,""" +
      """"data":{"id":"flush","l_partkey":"0","l_extendedprice":"0.00"}}"""
}
