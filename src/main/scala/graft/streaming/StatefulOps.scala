package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The custom stateful operators SURVEY §4 concludes Spark needs code
  * for (everything else maps to built-ins): per-day dedup counters (A5),
  * new/old visitor repair (O9), keep-latest changelog dedup (O18), the
  * CEP-equivalent bounce detector (W6), plus the training-pipeline
  * extensions — ingest-time exact dedup, gap sessionization, as-of
  * attribution in two variants (O(1)-state in-order, and
  * watermark-buffered out-of-order), streaming heavy hitters and
  * first/last-touch attribution. Each is ONE `transformWithState`
  * operator over a typed Dataset: a `StatefulProcessor` holding named
  * state variables (ValueState / ListState) in the RocksDB state store,
  * so state scales with #executors and is checkpointable (which the
  * reference's jobs designed but disabled, BaseLogApp.java:33-44). The
  * two dedup operators may declare a TTL on their state; the event-time
  * operators flush through event-time timers and rely on the inclusive
  * late-row boundary `eventTime <= watermark` that WatermarkBoundarySpec
  * pins.
  *
  * Scale: state is per-key and O(bytes) — a date string (A5/O9), one held
  * row (O18/W6), O(k) entries for the sketch. Keys hash-partition across
  * the cluster; the event-time operators clear a key's state when its
  * timer fires, the way the Flink originals used 1-day TTL / timers.
  */
object StatefulOps {

  /** A keyed event with an event-time date — input to the dedup ops. */
  case class KeyedEvent(key: String, ts: Long, date: String)

  /** A page view for visitor-repair / bounce detection. */
  case class PageView(mid: String, pageId: String, lastPageId: String,
                      isNew: String, ts: Long, date: String)

  /** A changelog row for keep-latest dedup. */
  case class VersionedRow(key: String, opTs: Long, payload: String)

  // private: callers use spark.implicits; these only serve the operators
  // below (and would ambiguate implicit scope if wildcard-imported).
  private implicit val keyedEventEnc: Encoder[KeyedEvent] = Encoders.product[KeyedEvent]
  private implicit val pageViewEnc: Encoder[PageView] = Encoders.product[PageView]
  private implicit val versionedEnc: Encoder[VersionedRow] = Encoders.product[VersionedRow]
  private implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** A5 — daily-unique dedup: emit only the first event per (key, day).
    * State = last-emitted date per key (the Flink ValueState with 1-day
    * TTL, DwdTrafficUniqueVisitorDetail.java:69-98 — the reference's
    * most-reused stateful shape: that job plus every cart/order/pay UU
    * window). Within a micro-batch events fold in `ts` order; across
    * batches the fold needs per-key event-time order, as a replayed log
    * delivers. The last-emitted date lives in a named ValueState whose
    * TTL is DECLARED (`TTLConfig`): the Flink original hand-configured a
    * 1-day StateTtlConfig
    * (DwdTrafficUniqueVisitorDetail.java:76-79) precisely because the
    * marker is worthless once its day has passed — here that contract is
    * one config line and RocksDB compaction physically drops expired
    * markers, so per-key state is bounded by ACTIVE keys per day, not
    * all keys ever seen (at 100 TB of traffic the visitor-key space is
    * the biggest state surface this module holds). Semantics with the
    * TTL live are IDENTICAL, not merely similar: the fold's only read is
    * "did this key already emit today?", and a marker from an earlier
    * date always takes the `e.date != lastDate` branch whether the store
    * expired it or still holds it — expiry can never flip an emit
    * decision, only shrink the store. StreamingSpec pins the emitted
    * rows on a fixed slicing and the one-row-per-(key, date) property
    * under random batching, both across midnight rollover. */
  class DailyDedupProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, KeyedEvent, KeyedEvent] {
    @transient private var lastDate: ValueState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastDate = getHandle.getValueState[String]("lastDate",
        Encoders.STRING, ttl)
    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        tv: TimerValues): Iterator[KeyedEvent] = {
      var last = Option(lastDate.get()).getOrElse("")
      val out = Vector.newBuilder[KeyedEvent]
      rows.toSeq.sortBy(_.ts).foreach { e =>
        // dates are monotone in ts, so "changed" ⇔ "first of its day"
        if (e.date != last) { last = e.date; out += e }
      }
      lastDate.update(last)
      out.result().iterator
    }
  }

  /** Runs [[DailyDedupProcessor]]. `ttl` defaults to NONE (markers kept
    * forever), and no caller in this repo sets one; the reference's
    * horizon would be `TTLConfig(java.time.Duration.ofDays(1))`.
    * StreamingSpec runs the operator with a declared TTL. A declared TTL
    * forces `TimeMode.ProcessingTime()` ([[ttlTimeMode]]) — faithful to
    * the Flink original, whose StateTtlConfig is processing-time
    * OnCreateAndWrite retention too
    * (DwdTrafficUniqueVisitorDetail.java:76-79). */
  def dailyDedupTws(ds: Dataset[KeyedEvent],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KeyedEvent] =
    ds.groupByKey(_.key)
      .transformWithState(new DailyDedupProcessor(ttl), ttlTimeMode(ttl),
        OutputMode.Append())

  /** The time mode for a processor whose state has TTL `ttl`: the engine
    * rejects TTL state under `TimeMode.None()` (measured), so a
    * declared TTL plans with processing time. */
  private def ttlTimeMode(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** An ingested document: content fingerprint + identity. */
  case class IngestDoc(fp: String, docId: Long, ts: Long)

  private implicit val ingestDocEnc: Encoder[IngestDoc] = Encoders.product[IngestDoc]

  /** Streaming exact-dedup at INGEST — the streaming complement of the
    * batch dedup stack (TextOps.dedupKeepFirst): emit only the first
    * document per content fingerprint, drop every later arrival. This is
    * the shape a training-data pipeline runs at the Kafka/file firehose,
    * before anything lands in the lake.
    *
    * Within a micro-batch ties break on (ts, docId) — a total order, so
    * output is replay-deterministic. State = one marker per DISTINCT
    * fingerprint: bounded by unique content, not traffic; that state
    * lives in the RocksDB state store (wired session-wide in
    * [[graft.GraftSession]], proven live by RocksDbStateSpec) — hash-
    * partitioned by fingerprint across executors and bounded by executor
    * disk, not heap; a TTL (timeout) bounds it further when the dedup
    * horizon is a window rather than forever.
    *
    * Runs on `transformWithState` (SPARK-46815): the marker is a named
    * ValueState whose TTL is DECLARED (`TTLConfig`) and enforced by the
    * store, not hand-rolled from timeout callbacks — the dedup horizon
    * ("re-ingests within 30 days are dups, older re-crawls are fresh")
    * becomes one argument, and RocksDB compaction physically drops
    * expired markers instead of the job carrying them forever. The
    * default NONE keeps the exact-forever semantics. StreamingSpec pins
    * the emitted rows across batches, with and without a TTL. */
  class IngestDedupProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, IngestDoc, IngestDoc] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, ttl)
    override def handleInputRows(key: String, rows: Iterator[IngestDoc],
        timerValues: TimerValues): Iterator[IngestDoc] =
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(rows.minBy(d => (d.ts, d.docId)))
      }
  }

  def ingestDedupTws(ds: Dataset[IngestDoc],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[IngestDoc] =
    ds.groupByKey(_.fp)
      .transformWithState(new IngestDedupProcessor(ttl), ttlTimeMode(ttl),
        OutputMode.Append())

  /** A closed gap-session: [startS, endS] in event-time seconds. */
  case class SessionOut(key: String, startS: Long, endS: Long, nEvents: Long)

  private implicit val sessionOutEnc: Encoder[SessionOut] =
    Encoders.product[SessionOut]

  /** Gap sessionization on `transformWithState` with EVENT-TIME TIMERS —
    * the full new-state-API surface (named state + timers +
    * `handleExpiredTimer`), covering what the reference's CEP/timer jobs
    * do with Flink timers (W5/W6 family) in the API Spark is converging
    * on. `ts` is event-time SECONDS; the caller supplies the watermark
    * (`timestamp_seconds(ts)` + `withWatermark`, as every event-time op
    * in this module).
    *
    * Mechanics: arrivals extend the open session or close it by gap
    * (in-batch disorder handled by sorting the batch); the FINAL open
    * session per key is closed by a timer registered at `end + gap`
    * event-time — when the watermark passes it, `handleExpiredTimer`
    * emits the held session and clears state. Timers are re-armed on
    * every extension (stale ones deleted), so state per key is one
    * (start, end, n) triple + one timer — O(1), store-resident, RocksDB
    * at scale. Unlike the proc-time flush the reference uses, an
    * event-time timer is replay-deterministic: re-running the stream
    * yields byte-identical sessions.
    *
    * StreamingSpec pins: in-batch gap split, cross-batch extension, and
    * timer-driven finalization exactly when the watermark passes
    * end + gap (not before). */
  class GapSessionProcessor(gapS: Long)
      extends StatefulProcessor[String, KeyedEvent, SessionOut] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      val out = Vector.newBuilder[SessionOut]
      var cur = if (sess.exists()) Option(sess.get()) else None
      rows.toSeq.sortBy(_.ts).foreach { e =>
        cur match {
          case Some((s0, e0, n)) if e.ts - e0 <= gapS =>
            cur = Some((s0, math.max(e0, e.ts), n + 1))
          case Some((s0, e0, n)) =>
            out += SessionOut(key, s0, e0, n)
            cur = Some((e.ts, e.ts, 1L))
          case None =>
            cur = Some((e.ts, e.ts, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((c._2 + gapS) * 1000)
      }
      out.result().iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val (s0, e0, n) = sess.get()
        // guard: a timer that raced an extension in the same batch must
        // not close a session that has since grown past it
        if (info.getExpiryTimeInMs >= (e0 + gapS) * 1000) {
          sess.clear()
          Iterator.single(SessionOut(key, s0, e0, n))
        } else Iterator.empty
      } else Iterator.empty
  }

  def sessionizeTws(ds: Dataset[KeyedEvent], gapS: Long = 60)
      : Dataset[SessionOut] =
    ds.groupByKey(_.key)
      .transformWithState(new GapSessionProcessor(gapS),
        TimeMode.EventTime(), OutputMode.Append())

  /** A tagged as-of event: side 0 = reference stream (view), 1 = probe
    * stream (purchase). */
  case class TaggedEvent(userId: Long, t: Long, side: Int, eventId: Long)

  /** An as-of match: the probe plus its gap to the latest reference. */
  case class AsofMatch(eventId: Long, userId: Long, buyS: Long, gapS: Long)

  private implicit val taggedEnc: Encoder[TaggedEvent] = Encoders.product[TaggedEvent]
  private implicit val asofMatchEnc: Encoder[AsofMatch] = Encoders.product[AsofMatch]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Streaming complement of the batch as-of join
    * (Relational.asofLastTouch): each purchase matches the latest view
    * at-or-before it by the same user. State = ONE long per user (latest
    * view time, a named ValueState) — O(1), the minimal-state end of the
    * streaming-asof spectrum. Within a micro-batch events process in
    * (t, side) order (views before buys at the same second — the
    * inclusive `>=` bound); across batches the same in-event-time-order
    * assumption as [[dailyDedupTws]] applies (late cross-batch views need
    * the watermark-buffered [[AsofBufferedProcessor]], the documented
    * trade for O(1) state). Emitting the gap, not the matched row id,
    * keeps same-second view ties deterministic — identical to the batch
    * operator, so AsofSpec asserts batch ≡ streaming on sf0.001. */
  class AsofAttributionProcessor
      extends StatefulProcessor[Long, TaggedEvent, AsofMatch] {
    @transient private var lastView: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastView = getHandle.getValueState[Long]("lastView",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[TaggedEvent],
        tv: TimerValues): Iterator[AsofMatch] = {
      var last =
        if (lastView.exists()) lastView.get() else Long.MinValue
      val out = Vector.newBuilder[AsofMatch]
      rows.toSeq.sortBy(e => (e.t, e.side)).foreach { e =>
        if (e.side == 0) last = math.max(last, e.t)
        else if (last != Long.MinValue)
          out += AsofMatch(e.eventId, uid, e.t, e.t - last)
      }
      if (last != Long.MinValue) lastView.update(last)
      out.result().iterator
    }
  }

  /** Runs [[AsofAttributionProcessor]]. */
  def asofAttributionTws(ds: Dataset[TaggedEvent]): Dataset[AsofMatch] =
    ds.groupByKey(_.userId)
      .transformWithState(new AsofAttributionProcessor, TimeMode.None(),
        OutputMode.Append())

  /** Watermark-correct as-of attribution: unlike
    * [[AsofAttributionProcessor]] (O(1) state, but requires cross-batch
    * event-time-ordered arrival), this variant accepts ARBITRARY
    * cross-batch disorder within the watermark bound — the trade every
    * streaming join makes explicit. Events buffer in state until the
    * watermark passes their time; only then do they process, in full
    * (t, side) event order, so a view arriving two batches after a later
    * buy still wins attribution. State is bounded by the watermark
    * horizon per key (not history): the finalized prefix collapses to a
    * named ValueState long; the not-yet-final events live in a
    * [[org.apache.spark.sql.streaming.ListState]]. The input must carry a
    * watermark on `timestamp_seconds(t)`.
    *
    * The ripe/hold partition `t <= wmSec` rests on the measured
    * inclusive `eventTime <= watermark` late-row pre-filter of EventTime
    * mode (WatermarkBoundarySpec; the boundary discipline:
    * measure, then build). The wake-up for quiescent keys is ONE
    * re-armed event-time timer at the earliest held event's finalization
    * point (strictly above the current watermark); `handleExpiredTimer`
    * re-drains idempotently from the then-current watermark, so a timer
    * racing newer arrivals in the same batch needs no guard. AsofSpec
    * pins the output against the batch as-of join under disordered
    * slicing. */
  class AsofBufferedProcessor
      extends StatefulProcessor[Long, TaggedEvent, AsofMatch] {
    @transient private var lastView: ValueState[Long] = _
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[TaggedEvent] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastView = getHandle.getValueState[Long]("lastView",
        Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[TaggedEvent]("pending",
        taggedEnc, TTLConfig.NONE)
    }
    private def drain(uid: Long, incoming: Seq[TaggedEvent],
        wmMs: Long): Iterator[AsofMatch] = {
      val wmSec = wmMs / 1000
      val all = pending.get().toSeq ++ incoming
      // measured boundary: rows at t == wmSec can no longer arrive
      // (inclusive pre-filter), so finalizing the boundary second is
      // safe AND required for liveness: a strict t < wmSec would hold
      // boundary-second events, and if the stream quiesces with the
      // watermark exactly at a held event's second those attributions
      // would never emit
      val (ripe, hold) = all.partition(_.t <= wmSec)
      var last = if (lastView.exists()) lastView.get() else Long.MinValue
      val out = Vector.newBuilder[AsofMatch]
      ripe.sortBy(e => (e.t, e.side)).foreach { e =>
        if (e.side == 0) last = math.max(last, e.t)
        else if (last != Long.MinValue)
          out += AsofMatch(e.eventId, uid, e.t, e.t - last)
      }
      pending.clear()
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (hold.isEmpty && last == Long.MinValue) lastView.clear()
      else {
        if (last != Long.MinValue) lastView.update(last)
        if (hold.nonEmpty) {
          pending.put(hold.toArray)
          // wake when the earliest held event finalizes (strictly above
          // the current watermark so the timer is in the future)
          getHandle.registerTimer(math.max(hold.map(_.t).min * 1000,
            wmMs + 1))
        }
      }
      out.result().iterator
    }
    override def handleInputRows(uid: Long, rows: Iterator[TaggedEvent],
        tv: TimerValues): Iterator[AsofMatch] =
      drain(uid, rows.toSeq, tv.getCurrentWatermarkInMs())
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsofMatch] =
      drain(uid, Nil, tv.getCurrentWatermarkInMs())
  }

  /** Runs [[AsofBufferedProcessor]] in event-time mode. */
  def asofBufferedTws(ds: Dataset[TaggedEvent]): Dataset[AsofMatch] =
    ds.groupByKey(_.userId)
      .transformWithState(new AsofBufferedProcessor,
        TimeMode.EventTime(), OutputMode.Append())

  /** O9 — new/old visitor repair: `is_new=1` is rewritten to `0` when the
    * mid was first seen on an earlier date (the reference's first-visit
    * ValueState job, BaseLogApp.java:71-108). State = first-visit date per
    * mid, a named ValueState; events fold in `ts` order. StreamingSpec pins
    * the repaired rows across batches and days. */
  class VisitorRepairProcessor
      extends StatefulProcessor[String, PageView, PageView] {
    @transient private var first: ValueState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      first = getHandle.getValueState[String]("firstDate", Encoders.STRING,
        TTLConfig.NONE)
    override def handleInputRows(mid: String, rows: Iterator[PageView],
        tv: TimerValues): Iterator[PageView] = {
      var firstDate = Option(first.get()).getOrElse("")
      val out = rows.toSeq.sortBy(_.ts).map { e =>
        if (firstDate.isEmpty) {
          firstDate = e.date
          e // genuinely new: keep is_new as sent
        } else if (e.isNew == "1" && e.date != firstDate) {
          e.copy(isNew = "0") // repeat visitor mis-flagged as new
        } else e
      }
      first.update(firstDate)
      out.iterator
    }
  }

  /** Runs [[VisitorRepairProcessor]]. */
  def visitorRepairTws(ds: Dataset[PageView]): Dataset[PageView] =
    ds.groupByKey(_.mid)
      .transformWithState(new VisitorRepairProcessor, TimeMode.None(),
        OutputMode.Append())

  /** O18 — keep-latest dedup on a changelog, the upsert-kafka reader's
    * core: hold the max-`opTs` row per key, emit it once no newer version
    * can arrive. The reference flushes the held version on a 5 s
    * *processing-time* timer (W5, DwsTradeSkuOrderWindow.java:81-111);
    * here the flush is an *event-time* timer (watermark passes
    * `opTs + flushMs`) — deterministic under replay, which the proc-time
    * original is not. The input must carry a watermark on
    * `timestamp_millis(opTs)`. The held row lives in a named ValueState;
    * each arrival re-arms ONE timer at `max(opTs + flushMs, watermark + 1)`
    * (stale timers deleted — the [[GapSessionProcessor]] discipline), and
    * `handleExpiredTimer` emits the version only if no newer one
    * superseded it inside the same batch (expiry-vs-held guard).
    * StreamingSpec pins the flushed rows batch by batch. */
  class KeepLatestProcessor(flushMs: Long)
      extends StatefulProcessor[String, VersionedRow, VersionedRow] {
    @transient private var held: ValueState[VersionedRow] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      held = getHandle.getValueState[VersionedRow]("held", versionedEnc,
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[VersionedRow],
        tv: TimerValues): Iterator[VersionedRow] = {
      val candidates =
        (if (held.exists()) Iterator.single(held.get()) else Iterator.empty) ++
          rows
      val latest = candidates.maxBy(_.opTs)
      held.update(latest)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        math.max(latest.opTs + flushMs, tv.getCurrentWatermarkInMs() + 1))
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[VersionedRow] =
      if (held.exists()) {
        val h = held.get()
        // a timer that raced a newer version in the same batch must not
        // flush it early
        if (info.getExpiryTimeInMs >= h.opTs + flushMs) {
          held.clear()
          Iterator.single(h)
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Runs [[KeepLatestProcessor]] in event-time mode. */
  def keepLatestTws(ds: Dataset[VersionedRow],
      flushMs: Long = 5000): Dataset[VersionedRow] =
    ds.groupByKey(_.key)
      .transformWithState(new KeepLatestProcessor(flushMs),
        TimeMode.EventTime(), OutputMode.Append())

  /** W6 — CEP bounce detector: an entry page (lastPageId == null) held per
    * mid; emitted as a bounce if the NEXT event is also an entry page, or
    * if no event follows within `timeoutMs` event time — both arms of the
    * Flink CEP pattern and its timeout side output
    * (DwdTrafficUserJumpDetail.java:79-119). The entry page is held in
    * named state with ONE armed event-time timer at `ts + timeoutMs`; a
    * following entry page bounces it in-stream, a continuation clears it,
    * and watermark passage fires `handleExpiredTimer` for the
    * no-follow-up bounce — the expiry-vs-held guard drops a timer that
    * raced a newer held entry in the same batch. Requires a watermark on
    * the input. StreamingSpec pins the bounces batch by batch. */
  class BounceProcessor(timeoutMs: Long)
      extends StatefulProcessor[String, PageView, PageView] {
    @transient private var held: ValueState[PageView] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      held = getHandle.getValueState[PageView]("held", pageViewEnc,
        TTLConfig.NONE)
    override def handleInputRows(mid: String, rows: Iterator[PageView],
        tv: TimerValues): Iterator[PageView] = {
      val out = Vector.newBuilder[PageView]
      var h = if (held.exists()) Option(held.get()) else None
      rows.toSeq.sortBy(_.ts).foreach { e =>
        val isEntry = e.lastPageId == null || e.lastPageId.isEmpty
        h match {
          case Some(p) if e.ts > p.ts + timeoutMs =>
            out += p // nothing followed within the horizon: bounce
            h = if (isEntry) Some(e) else None
          case Some(p) =>
            if (isEntry) out += p // entry→entry inside horizon: bounce
            h = if (isEntry) Some(e) else None
          case None =>
            h = if (isEntry) Some(e) else None
        }
      }
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      h match {
        case Some(p) =>
          held.update(p)
          getHandle.registerTimer(p.ts + timeoutMs)
        case None => held.clear()
      }
      out.result().iterator
    }
    override def handleExpiredTimer(mid: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[PageView] =
      if (held.exists()) {
        val p = held.get()
        if (info.getExpiryTimeInMs >= p.ts + timeoutMs) {
          held.clear()
          Iterator.single(p)
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Runs [[BounceProcessor]] in event-time mode. */
  def bounceDetectorTws(ds: Dataset[PageView],
      timeoutMs: Long = 10000): Dataset[PageView] =
    ds.groupByKey(_.mid)
      .transformWithState(new BounceProcessor(timeoutMs),
        TimeMode.EventTime(), OutputMode.Append())

  /** A keyed token occurrence — input to the streaming sketch. */
  case class KeyedToken(key: String, token: String)

  /** Streaming heavy hitters: one Misra–Gries buffer per key held in
    * state, folded forward each micro-batch with the SAME mergeable
    * Aggregator the batch query uses (`Aggregators.misraGries`, whose
    * reduce/merge algebra HeavyHitterSpec property-tests under every
    * partitioning) and re-emitted as the sketch's update-mode changelog
    * (key, token, estimate).
    *
    * This is the streaming face of `q_heavy_hitters`: the MG guarantees —
    * ≤ k entries, no false negative above n/k, undercount ≤ n/k — are
    * ORDER-FREE properties, so they hold at every micro-batch boundary
    * regardless of how arrivals were sliced (spec-pinned over the
    * accumulated prefix after every batch). State is O(k) per key —
    * bounded forever, the whole point of sketching an unbounded stream;
    * at 100 TB/day this is the only per-key token summary whose state
    * does not grow with vocabulary. The buffer is a named ValueState
    * (RocksDB-resident). HeavyHitterSpec pins each batch's changelog
    * against the same Aggregator folded in the spec. */
  class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, KeyedToken, (String, String, Long)] {
    private val mg = graft.functions.Aggregators.misraGries(k)
    @transient private var buf: ValueState[Map[String, Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[Map[String, Long]]("mg",
        mg.bufferEncoder, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedToken],
        tv: TimerValues): Iterator[(String, String, Long)] = {
      val folded = rows.foldLeft(Option(buf.get()).getOrElse(mg.zero))(
        (b, r) => mg.reduce(b, r.token))
      buf.update(folded)
      folded.iterator.map { case (t, c) => (key, t, c) }
    }
  }

  /** Runs [[HeavyHittersProcessor]]. */
  def heavyHittersStreamTws(ds: Dataset[KeyedToken], k: Int)
      : Dataset[(String, String, Long)] = {
    implicit val outEnc: Encoder[(String, String, Long)] =
      Encoders.product[(String, String, Long)]
    ds.groupByKey(_.key)
      .transformWithState(new HeavyHittersProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** One event on the attribution stream (micros, id for the total
    * order; cents already exact). */
  case class TouchEvent(userId: Long, t: Long, eventId: Long,
      eventType: String, cents: Long)
  /** A purchase with both attribution verdicts attached. */
  case class AttributedPurchase(userId: Long, t: Long, eventId: Long,
      firstCh: String, lastCh: String, cents: Long)
  /** Per-user attribution state: first touch ever, latest touch so far
    * (null = no touch yet ⇒ 'direct'). */
  case class TouchState(first: String, last: String)

  private implicit val apEnc: Encoder[AttributedPurchase] =
    Encoders.product[AttributedPurchase]
  private implicit val tsEnc: Encoder[TouchState] = Encoders.product[TouchState]

  /** STREAMING first/last-touch attribution — the stateful face of
    * [[graft.ops.Relational.attribution]]: per user, state is exactly
    * TWO strings (the first touch ever and the latest touch so far) —
    * O(1) per user forever, never the history the batch window frame
    * re-reads — and every purchase is emitted AT ARRIVAL with both
    * verdicts attached, the shape a real-time marketing dashboard needs
    * (the batch query can only answer after the fact). Within a
    * micro-batch events fold in (t, eventId) order — the batch query's
    * exact total order — so output is replay-deterministic; ACROSS
    * batches correctness needs per-user event-time order (the
    * [[dailyDedupTws]] monotonicity caveat: production fronts this with a
    * watermark-buffered sort). The touch pair is a named ValueState.
    * AttributionStreamSpec proves the streamed emission equals an in-JVM
    * replay of the batch semantics under uneven slicing, with cross-batch
    * state carries exercised. */
  class AttributionProcessor
      extends StatefulProcessor[Long, TouchEvent, AttributedPurchase] {
    @transient private var touch: ValueState[TouchState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touch = getHandle.getValueState[TouchState]("touch", tsEnc,
        TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[TouchEvent],
        timerValues: TimerValues): Iterator[AttributedPurchase] = {
      var st = Option(touch.get()).getOrElse(TouchState(null, null))
      val out = Vector.newBuilder[AttributedPurchase]
      rows.toSeq.sortBy(e => (e.t, e.eventId)).foreach { e =>
        if (e.eventType == "purchase")
          out += AttributedPurchase(uid, e.t, e.eventId,
            Option(st.first).getOrElse("direct"),
            Option(st.last).getOrElse("direct"), e.cents)
        else
          st = TouchState(
            if (st.first == null) e.eventType else st.first, e.eventType)
      }
      touch.update(st)
      out.result().iterator
    }
  }

  /** Runs [[AttributionProcessor]]. */
  def attributionStreamTws(ds: Dataset[TouchEvent])
      : Dataset[AttributedPurchase] =
    ds.groupByKey(_.userId)
      .transformWithState(new AttributionProcessor, TimeMode.None(),
        OutputMode.Append())
}
